"""Commit staging: one pyarrow writer, run in two places. An op whose rows
are already on the driver — a pyarrow Table (a `delete_keys` list, object
chunks) or a frame whose plan is a LocalRelation (a pandas/Arrow
`createDataFrame`, a `literal_frame`) — becomes a Table op when it is added
(the driver JVM converts the relation to Arrow) and stages in-process, one
parquet file per non-empty bucket, with no Spark job at any row count, as
the reference's commit writes in-process (system/instance.rs:141-187). Any
other frame stages in one mapInArrow job, each task writing its rows
through the same writer; all of them must produce the same table."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from db_core_spark.operators.litframe import literal_frame
from db_core_spark.plans import ObjectStore, VersionedTable
from db_core_spark.plans.versioned import bucket_of_py, op_write_set
from tests.conftest import job_count, window_snapshot


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


def _write_set(m: dict):
    """The write-set of a commit manifest, read from its op files."""
    return op_write_set(m["ops"], ["k"])


# ------------------------------------------------------------- job counts


def test_small_local_commits_run_no_job(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=8)
    pdf = pd.DataFrame({"k": range(10), "v": [f"v{i}" for i in range(10)], "x": [0.5] * 10})
    txn = vt.begin()
    frame = spark.createDataFrame(pdf, KV_SCHEMA)
    with job_count(spark) as jobs:
        txn.upsert(frame)
        txn.commit()
    assert jobs == [0]

    txn = vt.begin()
    with job_count(spark) as jobs:
        txn.delete_keys([{"k": 3}, {"k": 4}])
        txn.commit()
    assert jobs == [0]

    txn = vt.begin()
    frame = spark.createDataFrame(pdf.head(2), KV_SCHEMA)
    with job_count(spark) as jobs:
        txn.upsert(frame)
        txn.delete_keys([{"k": 5}])
        txn.commit()
    assert jobs == [0]
    assert sorted(r.k for r in vt.snapshot().collect()) == [0, 1, 2, 6, 7, 8, 9]


def test_object_put_runs_no_job(spark, tmp_path):
    store = ObjectStore.create(spark, str(tmp_path / "objects"), chunk_size=64)
    data = bytes(range(256)) * 2
    txn = store.begin()
    store.put(txn, 1, data)
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == [0]
    # a shorter rewrite adds a delete op for the stale chunks: two ops
    txn = store.begin()
    store.put(txn, 1, data[:100])
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == [0]
    assert store.read(None, 1) == data[:100]


def test_bulk_local_commits_run_no_job(spark, tmp_path):
    """A LocalRelation op runs no Spark job at any row count, from upsert
    through commit: a 50k-row pandas frame, and a createDataFrame(...)
    .withColumn(...) frame, whose Project the optimizer folds into a
    LocalRelation."""
    from pyspark.sql import functions as F

    n = 50_000
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=4)
    pdf = pd.DataFrame({"k": range(n), "v": [f"v{i}" for i in range(n)], "x": [0.5] * n})
    bulk = spark.createDataFrame(pdf, KV_SCHEMA)
    derived = spark.createDataFrame(pdf.head(100), KV_SCHEMA).withColumn("x", F.col("x") * 4)
    assert derived._jdf.queryExecution().analyzed().nodeName() == "Project"
    for frame in (bulk, derived):
        txn = vt.begin()
        with job_count(spark) as jobs:
            txn.upsert(frame)
            txn.commit()
        assert jobs == [0]
    assert vt.snapshot().count() == n
    assert _sorted_rows(vt.lookup({"k": 99})) == [(99, "v99", 2.0)]
    assert _sorted_rows(vt.lookup({"k": 100})) == [(100, "v100", 0.5)]


def test_pandas_upsert_in_object_store_txn_is_read_in_the_driver(spark, tmp_path):
    """A pandas-frame upsert inside an ObjectStore transaction is a Table
    op, so Transaction.lookup_table (and the object reads through it)
    answers with no Spark job, with the rows read() returns."""
    from db_core_spark.plans.objects import OBJECT_SCHEMA

    store = ObjectStore.create(spark, str(tmp_path / "objects"), chunk_size=4)
    txn = store.begin()
    store.put(txn, 1, b"committed")
    txn.commit()
    txn = store.begin()
    store.put(txn, 2, b"own put")
    txn.upsert(
        spark.createDataFrame(
            pd.DataFrame({"obj_id": [1, 1, 3], "chunk_no": [0, 3, 0],
                          "payload": [b"COMM", b"xy", b"new"]}),
            OBJECT_SCHEMA,
        )
    )
    with job_count(spark) as jobs:
        got = {o: txn.lookup_table({"obj_id": o}) for o in (1, 2, 3)}
        data = {o: store.read(txn, o) for o in (1, 2, 3)}
    assert jobs == [0]
    assert data == {1: b"COMMittedxy", 2: b"own put", 3: b"new"}
    snap = txn.read()
    for o, tbl in got.items():
        want = snap.filter(f"obj_id = {o}").collect()
        assert sorted(tuple(r.values()) for r in tbl.to_pylist()) == sorted(
            tuple(r) for r in want
        )


def test_distributed_frame_runs_one_map_in_arrow_job(spark, tmp_path):
    """A frame that is not on the driver stages in one mapInArrow job over
    its partitions: the commit runs the jobs a collect() of the frame runs
    (adaptive execution runs the repartition's shuffle as a job of its own)
    and no more."""
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=4)
    rows = [(i, f"v{i}", float(i)) for i in range(10)]
    frame = literal_frame(spark, rows, KV_SCHEMA).repartition(2)
    with job_count(spark) as read_jobs:
        frame.collect()
    txn = vt.begin()
    txn.upsert(frame)
    with job_count(spark) as jobs:
        txn.commit()
    assert jobs == read_jobs == [2]
    assert _sorted_rows(vt.snapshot()) == sorted(rows, key=repr)


# ----------------------------------------------------------------- layout


def _bucket_files(op_dir: str) -> dict[str, list[str]]:
    return {b: os.listdir(os.path.join(op_dir, b)) for b in os.listdir(op_dir)}


def test_one_file_per_nonempty_bucket(spark, tmp_path):
    """A driver-local op writes one file per non-empty bucket; a frame of 3
    partitions at most one per partition and bucket, and no ``_tmp-`` file
    of the rename-into-place writes stays behind."""
    rows = [(i, f"v{i}", float(i)) for i in range(40)]
    want = sorted({f"bucket={bucket_of_py([i], 8)}" for i in range(40)})
    for parts in (1, 3):
        vt = VersionedTable.create(
            spark, str(tmp_path / f"t{parts}"), ["k"], KV_SCHEMA, num_buckets=8
        )
        df = literal_frame(spark, rows, KV_SCHEMA)
        txn = vt.begin()
        txn.upsert(df if parts == 1 else df.repartition(parts))
        txn.commit()
        (op,) = _manifests(vt)[0]["ops"]
        files = _bucket_files(op["dir"])
        assert sorted(files) == want  # no _SUCCESS, no stray files beside the buckets
        for names in files.values():
            assert 1 <= len(names) <= parts
            assert all(n.startswith("part-") and n.endswith(".parquet") for n in names)
        assert _sorted_rows(vt.snapshot()) == sorted(rows, key=repr)


def test_distributed_op_is_cast_to_table_types(spark, tmp_path):
    """A distributed frame whose column types differ from the table's
    (IntegerType into a LongType key, FloatType into a DoubleType column)
    is cast before it reaches the writer: every file has the table's
    types."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=4)
    df = spark.range(20, numPartitions=2).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.col("id").cast("float").alias("x"),
    )
    txn = vt.begin()
    txn.upsert(df)
    txn.delete_keys(df.select("k").filter("k < 5"))
    txn.commit()
    paths = glob.glob(os.path.join(vt.path, "data", "tsn=*", "opseq=*", "bucket=*", "*.parquet"))
    assert paths
    for p in paths:
        schema = pq.read_schema(p)
        assert (str(schema.field("k").type), str(schema.field("x").type)) == ("int64", "double")
    want = [(i, f"v{i}", float(i)) for i in range(5, 20)]
    assert _sorted_rows(vt.snapshot()) == sorted(want, key=repr)


def test_empty_local_upsert_publishes_no_op_dir(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=4)
    txn = vt.begin()
    txn.upsert(literal_frame(spark, [], KV_SCHEMA))
    csn = txn.commit()
    assert csn == 1 and _manifests(vt)[0]["ops"] == []
    assert glob.glob(os.path.join(vt.path, "data", f"tsn={txn.tsn}", "opseq=*")) == []
    assert vt.snapshot().count() == 0


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

    assert [_write_set(m) for m in _manifests(loc)] == [
        _write_set(m) for m in _manifests(dist)
    ]
    snap = _sorted_rows(loc.snapshot())
    assert snap == _sorted_rows(dist.snapshot())
    assert snap == _sorted_rows(window_snapshot(loc))
    assert snap == _sorted_rows(window_snapshot(dist))
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
    # the pyarrow-written checkpoint reads back as the window reference,
    # through the bucketed reader and through history()
    for vt in (loc, dist):
        vt.checkpoint()
        assert _sorted_rows(vt.snapshot()) == snap
        assert _sorted_rows(window_snapshot(vt)) == snap
        hist = vt.history()
        assert _sorted_rows(hist.drop("_csn", "_opseq", "_deleted")) == snap
        assert hist.filter("_deleted").count() == 0
    assert _sorted_rows(loc.history()) == _sorted_rows(dist.history())


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
    assert _sorted_rows(window_snapshot(vt)) == want
    assert _sorted_rows(vt.lookup({"k": 3})) == [(3, "local2", 5.0)]
    assert _write_set(_manifests(vt)[-1]) == {("1",), ("3",)}


# -------------------------------------------------------------- write-set


def test_write_set_cap_degrades_to_untracked(spark, tmp_path, monkeypatch):
    """A commit whose op files hold more than MAX_TRACKED_KEYS rows has an
    untracked write-set (op_write_set is None) and conflicts with any
    concurrent commit — for a driver-staged op, for a distributed op
    (whose tasks each stay under the cap; their files together cross it)
    and for a bulk append."""
    from db_core_spark.plans import versioned
    from db_core_spark.plans.versioned import ConflictError
    from db_core_spark.sources.versioned_datasource import VersionedAppendWriter

    monkeypatch.setattr(versioned, "MAX_TRACKED_KEYS", 3)
    vt = VersionedTable.create(spark, str(tmp_path / "t"), ["k"], KV_SCHEMA, num_buckets=4)

    def rows(ks):
        return literal_frame(spark, [(k, f"v{k}", 0.0) for k in ks], KV_SCHEMA)

    for frame in (rows(range(5)), rows(range(5, 10)).repartition(2)):
        over, other = vt.begin(), vt.begin()
        over.upsert(frame)
        other.upsert(rows([100]))  # a key the capped commit does not write
        over.commit()
        assert _write_set(_manifests(vt)[-1]) is None
        with pytest.raises(ConflictError, match="untracked"):
            other.commit()

    txn = vt.begin()
    txn.upsert(rows([1]))  # under the cap: tracked
    txn.commit()
    assert _write_set(_manifests(vt)[-1]) == {("1",)}

    # the bulk append's parts stay under the cap; its op dir crosses it
    # (commit() is called in this process, so the patched cap applies; a
    # Spark write runs it in a Python process of its own)
    w = VersionedAppendWriter(KV_SCHEMA, {"path": vt.path})
    w.commit([w.write(iter([(k, "bulk", 1.0) for k in ks])) for ks in ((20, 21), (22, 23))])
    assert _write_set(_manifests(vt)[-1]) is None
    w = VersionedAppendWriter(KV_SCHEMA, {"path": vt.path})
    msgs = [w.write(iter([(k, "bulk", 1.0) for k in ks])) for ks in ((30, 31), (32, 33))]
    txn = vt.begin()
    txn.upsert(rows([100]))
    txn.commit()
    with pytest.raises(ConflictError, match="untracked"):
        w.commit(msgs)
    assert _sorted_rows(vt.lookup({"k": 30})) == []
