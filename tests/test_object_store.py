"""Byte-stream object store tests — ports of the reference's object API
tests (FIXTURES.md §B scenarios; /root/reference/src/system/instance.rs:
599-762 write/read/seek/overwrite/delete lifecycle)."""

from __future__ import annotations

import random

import pytest

from db_core_spark.plans import ObjectStore
from db_core_spark.plans.objects import OBJECT_SCHEMA
from tests.conftest import job_count

CHUNK = 256  # small chunk size to exercise multi-chunk paths cheaply


@pytest.fixture
def store(spark, tmp_path):
    return ObjectStore.create(spark, str(tmp_path / "objs"), chunk_size=CHUNK)


def test_write_read_roundtrip_multichunk(store):
    """3x chunk_size pseudo-random payload, byte-equal after commit
    (instance.rs:649-661)."""
    rng = random.Random(42)
    data = bytes(rng.randrange(256) for _ in range(3 * CHUNK + 17))
    t = store.begin()
    store.put(t, 1, data)
    t.commit()
    assert store.read(None, 1) == data


def test_seek_overwrite_splices(store):
    """Overwrite at offset 0 and at 2.5x chunk_size; spliced stream reads
    back exactly (instance.rs:663-680)."""
    base = bytes(range(256)) * 3  # 3 chunks of 256
    t = store.begin()
    store.put(t, 7, base)
    t.commit()
    t = store.begin()
    store.write_at(t, 7, 0, b"HEAD")
    mid = int(2.5 * CHUNK)
    store.write_at(t, 7, mid, b"MIDDLE")
    t.commit()
    expect = bytearray(base)
    expect[0:4] = b"HEAD"
    expect[mid : mid + 6] = b"MIDDLE"
    assert store.read(None, 7) == bytes(expect)


def test_seek_read_partial(store):
    data = b"".join(bytes([i]) * CHUNK for i in range(4))  # 4 distinct chunks
    t = store.begin()
    store.put(t, 3, data)
    t.commit()
    # spans the chunk-1/chunk-2 boundary
    off = CHUNK + CHUNK // 2
    got = store.read_at(None, 3, off, CHUNK)
    assert got == data[off : off + CHUNK]
    assert store.length(None, 3) == len(data)


def test_append_extends(store):
    t = store.begin()
    store.put(t, 9, b"A" * (CHUNK - 3))
    t.commit()
    t = store.begin()
    store.append(t, 9, b"B" * 10)  # crosses the chunk boundary
    t.commit()
    assert store.read(None, 9) == b"A" * (CHUNK - 3) + b"B" * 10


def test_put_shorter_truncates(store):
    t = store.begin()
    store.put(t, 11, b"x" * (3 * CHUNK))
    t.commit()
    t = store.begin()
    store.put(t, 11, b"y" * 10)
    t.commit()
    assert store.read(None, 11) == b"y" * 10


def test_delete_tombstones_and_asof_read(store):
    t = store.begin()
    store.put(t, 5, b"persistent")
    csn = t.commit()
    t = store.begin()
    store.delete(t, 5)
    t.commit()
    assert store.read(None, 5) is None
    # historical snapshot still reads it (block_driver.rs:1028-1042)
    assert store.read_snapshot(5, as_of_csn=csn) == b"persistent"


def test_uncommitted_object_invisible_to_others(store):
    t = store.begin()
    store.put(t, 21, b"dirty")
    assert store.read(None, 21) is None  # no dirty reads
    assert store.read(t, 21) == b"dirty"  # read-your-own-writes
    t.rollback()
    assert store.read(None, 21) is None


def test_transaction_reads_run_no_job(spark, store):
    """Inside a transaction, the chunk listing of each put, write_at's
    read-modify-write and read() resolve in the driver: the object's bucket
    at the start csn beneath the transaction's own chunk rows
    (Transaction.lookup_table). Four puts, a write_at and a read run no
    Spark job, and return what a committed read returns afterwards; once a
    DataFrame op is buffered, the reads go through Transaction.read() and
    agree."""
    base = bytes(range(256)) * 3
    t = store.begin()
    store.put(t, 1, base)
    t.commit()
    t = store.begin()
    with job_count(spark) as jobs:
        store.put(t, 1, b"x" * 600)  # shorter rewrite: the stale chunk goes
        store.put(t, 2, b"two" * 200)
        store.put(t, 1, base[:300])  # lists the first put's chunks
        store.put(t, 3, b"three")
        store.write_at(t, 2, 100, b"SPLICE")
        got = {o: store.read(t, o) for o in (1, 2, 3)}
        length = store.length(t, 1)
    assert jobs == [0]
    t.commit()
    assert got == {o: store.read(None, o) for o in (1, 2, 3)}
    assert got[1] == base[:300] and length == 300
    assert got[2] == (b"two" * 200)[:100] + b"SPLICE" + (b"two" * 200)[106:]

    t = store.begin()
    store.put(t, 4, b"four" * 100)
    store.delete(t, 3)
    driver = [store.read(t, o) for o in (1, 2, 3, 4)]
    with pytest.raises(ValueError, match="key columns only"):
        t.lookup_table({"obj_id": 4, "payload": b"four"})
    t.upsert(spark.createDataFrame([(9, 0, b"df")], OBJECT_SCHEMA))
    assert t.lookup_table({"obj_id": 4}) is None
    assert [store.read(t, o) for o in (1, 2, 3, 4)] == driver
    assert driver[2] is None and driver[3] == b"four" * 100
    t.rollback()
