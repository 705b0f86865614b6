"""Driver-local commit staging: an op whose frame is a LocalRelation (a
pandas/Arrow `createDataFrame`, a `literal_frame`, a `delete_keys` list)
stages in-process — one `toArrow()` job, then pyarrow writes one parquet
file per non-empty bucket — instead of through a Spark write job. The
reference's commit writes in-process too (system/instance.rs:141-187).
Any other frame keeps the Spark writer; both must produce the same table."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import uuid
from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import types as T

from db_core_spark.operators.litframe import literal_frame
from db_core_spark.plans import ObjectStore, VersionedTable
from db_core_spark.plans.versioned import bucket_of_py


@contextmanager
def job_count(spark):
    """Yields a list that holds, on exit, the number of Spark jobs started
    inside the block (counted through the status tracker's job group)."""
    sc = spark.sparkContext
    group = f"local-staging-{uuid.uuid4().hex}"
    out: list[int] = []
    sc.setJobGroup(group, "local staging")
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _schema(key_type) -> T.StructType:
    return T.StructType(
        [
            T.StructField("k", key_type),
            T.StructField("v", T.StringType()),
            T.StructField("x", T.DoubleType()),
        ]
    )


KV_SCHEMA = _schema(T.LongType())


def _manifests(vt) -> list[dict]:
    log = os.path.join(vt.path, "_commitlog")
    out = []
    for name in sorted(os.listdir(log)):
        if name.endswith(".json") and name[0].isdigit():
            with open(os.path.join(log, name)) as fh:
                out.append(json.load(fh))
    return out


# ------------------------------------------------------------- job counts


def test_small_local_commits_run_one_job_per_op(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=8)
    pdf = pd.DataFrame({"k": range(10), "v": [f"v{i}" for i in range(10)], "x": [0.5] * 10})
    txn = vt.begin()
    txn.upsert(spark.createDataFrame(pdf, KV_SCHEMA))
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == [1]

    txn = vt.begin()
    txn.delete_keys([{"k": 3}, {"k": 4}])
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == [1]

    txn = vt.begin()
    txn.upsert(spark.createDataFrame(pdf.head(2), KV_SCHEMA))
    txn.delete_keys([{"k": 5}])
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == [2]
    assert sorted(r.k for r in vt.snapshot().collect()) == [0, 1, 2, 6, 7, 8, 9]


def test_object_put_runs_one_job_per_op(spark, tmp_path):
    store = ObjectStore.create(spark, str(tmp_path / "objects"), chunk_size=64)
    data = bytes(range(256)) * 2
    txn = store.begin()
    store.put(txn, 1, data)
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == [1]
    # a shorter rewrite adds a delete op for the stale chunks: two ops
    txn = store.begin()
    store.put(txn, 1, data[:100])
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == [2]
    assert store.read(None, 1) == data[:100]


# ----------------------------------------------------------------- layout


def test_one_file_per_nonempty_bucket(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=8)
    rows = [(i, f"v{i}", float(i)) for i in range(40)]
    txn = vt.begin()
    txn.upsert(literal_frame(spark, rows, KV_SCHEMA))
    txn.commit()
    (op,) = _manifests(vt)[0]["ops"]
    entries = sorted(os.listdir(op["dir"]))
    want = sorted({f"bucket={bucket_of_py([i], 8)}" for i in range(40)})
    assert entries == want  # no _SUCCESS, no stray files beside the buckets
    for b in entries:
        files = os.listdir(os.path.join(op["dir"], b))
        assert len(files) == 1 and files[0].endswith(".parquet")


def test_empty_local_upsert_publishes_no_op_dir(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=4)
    txn = vt.begin()
    txn.upsert(literal_frame(spark, [], KV_SCHEMA))
    csn = txn.commit()
    assert csn == 1 and _manifests(vt)[0]["ops"] == []
    assert glob.glob(os.path.join(vt.path, "data", f"tsn={txn.tsn}", "opseq=*")) == []
    assert vt.snapshot().count() == 0


def test_unbucketed_table_stages_locally(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=0)
    txn = vt.begin()
    txn.upsert(literal_frame(spark, [(1, "a", 1.0), (2, "b", None)], KV_SCHEMA))
    txn.commit()
    txn = vt.begin()
    txn.delete_keys([{"k": 1}])
    txn.commit()
    for m in _manifests(vt):
        (op,) = m["ops"]
        files = os.listdir(op["dir"])
        assert "_SUCCESS" not in files and any(f.endswith(".parquet") for f in files)
    assert [tuple(r) for r in vt.snapshot().collect()] == [(2, "b", None)]


# ------------------------------------------------------------ equivalence

_KEYS = {
    "int": (T.LongType(), [3, -7, 0, 42, 2**40, 11]),
    "string": (T.StringType(), ["a", "", "héllo", "None", "k\tk", "zz"]),
    "date": (T.DateType(), [dt.date(2024, 1, 1) + dt.timedelta(days=37 * i) for i in range(6)]),
    "timestamp": (
        T.TimestampType(),
        [
            dt.datetime(2024, 1, 2, 3, 4, 5, 600000),
            dt.datetime(2024, 1, 2, 3, 4, 5),
            dt.datetime(1999, 12, 31, 23, 59, 59, 123456),
            dt.datetime(1970, 1, 1),
            dt.datetime(2030, 6, 15, 1, 2, 3, 10),
            dt.datetime(2024, 2, 29, 12, 0, 0, 500),
        ],
    ),
    "bool": (T.BooleanType(), [True, False]),
}


def _sorted_rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _run_ops(spark, vt, keys, local: bool) -> None:
    """The same three commits, with each op's frame either local or made
    non-local by a repartition."""
    schema = vt.schema

    def frame(rows, sch):
        df = literal_frame(spark, rows, sch)
        return df if local else df.repartition(2)

    def deletes(txn, ks):
        if local:
            txn.delete_keys([{"k": k} for k in ks])
        else:
            key_schema = T.StructType([schema["k"]])
            txn.delete_keys(frame([(k,) for k in ks], key_schema))

    n = len(keys)
    txn = vt.begin()
    txn.upsert(
        frame([(k, None if i % 3 == 0 else f"v{i}", None if i % 2 else i / 4)
               for i, k in enumerate(keys)], schema)
    )
    txn.commit()
    txn = vt.begin()
    txn.upsert(frame([(keys[0], "updated", None)], schema))
    deletes(txn, keys[n - 1:])
    txn.commit()
    txn = vt.begin()
    deletes(txn, keys[:1])
    txn.upsert(frame([(keys[-1], None, 9.5)], schema))  # later op re-inserts
    txn.commit()


@pytest.mark.parametrize("kind", sorted(_KEYS))
def test_local_and_spark_staging_are_equivalent(spark, tmp_path, kind):
    key_type, keys = _KEYS[kind]
    tables = {}
    for local in (True, False):
        vt = VersionedTable.create(
            spark, str(tmp_path / f"t_{local}"), ["k"], _schema(key_type), num_buckets=4
        )
        _run_ops(spark, vt, keys, local)
        tables[local] = vt
    loc, dist = tables[True], tables[False]

    assert [m["write_keys"] for m in _manifests(loc)] == [
        m["write_keys"] for m in _manifests(dist)
    ]
    snap = _sorted_rows(loc.snapshot())
    assert snap == _sorted_rows(dist.snapshot())
    assert snap == _sorted_rows(loc.snapshot(engine="window"))
    assert snap == _sorted_rows(dist.snapshot(engine="window"))
    for k in keys:
        assert _sorted_rows(loc.lookup({"k": k})) == _sorted_rows(dist.lookup({"k": k}))
    assert _sorted_rows(loc.changes(include_opseq=True)) == _sorted_rows(
        dist.changes(include_opseq=True)
    )
    # both writers place every key in the same bucket directories
    def buckets(vt):
        return [
            sorted(
                os.path.basename(d)
                for op in m["ops"]
                for d in glob.glob(os.path.join(op["dir"], "bucket=*"))
            )
            for m in _manifests(vt)
        ]

    assert buckets(loc) == buckets(dist)
    for vt in (loc, dist):
        vt.checkpoint()
    assert _sorted_rows(loc.snapshot()) == snap
    assert _sorted_rows(dist.snapshot()) == snap


# -------------------------------------------------------------- mixed ops


def test_mixed_local_and_spark_ops_resolve_by_opseq(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=4)

    def local(rows):
        return literal_frame(spark, rows, KV_SCHEMA)

    def dist(rows):
        return local(rows).repartition(2)

    txn = vt.begin()
    txn.upsert(local([(1, "local", 1.0), (2, "local", 2.0), (3, "local", 3.0)]))
    txn.upsert(dist([(1, "dist", 10.0)]))
    txn.delete_keys(local([(2, None, None)]).select("k").repartition(2))
    txn.upsert(local([(4, "local", 4.0)]))
    txn.delete_keys([{"k": 4}])
    txn.commit()
    assert _sorted_rows(vt.snapshot()) == [(1, "dist", 10.0), (3, "local", 3.0)]

    txn = vt.begin()
    txn.upsert(dist([(1, "dist2", 0.0), (3, "dist2", 0.0)]))
    txn.upsert(local([(3, "local2", 5.0)]))
    txn.commit()
    want = [(1, "dist2", 0.0), (3, "local2", 5.0)]
    assert _sorted_rows(vt.snapshot()) == want
    assert _sorted_rows(vt.snapshot(engine="window")) == want
    assert _sorted_rows(vt.lookup({"k": 3})) == [(3, "local2", 5.0)]
    assert _manifests(vt)[-1]["write_keys"] == [["1"], ["3"]]
