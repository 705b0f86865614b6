"""The snapshot read contract and its one fold.

`VersionedTable.snapshot()` pins its csn and op list when it is called and
runs the job `checkpoint()` runs (`_fold_job`): one mapInArrow task per
bucket group, each folding its buckets with
`VersionedSnapshotReader.fold`. That fold resolves versions in pyarrow, so
int64 values stay exact and a NaN key stays apart from a NULL key. The
last tests pin the shape in source, in the style of test_single_writer.
"""

from __future__ import annotations

import ast
import glob
import inspect
import os
import textwrap

import pyarrow.parquet as pq
from pyspark.sql import types as T

from db_core_spark.plans import VersionedTable
from db_core_spark.sources.versioned_datasource import VersionedSnapshotReader, newest_versions

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)
BIG = 2**53 + 1  # the smallest int64 a float64 cannot hold


def _commit(vt, spark, rows=(), deletes=()):
    t = vt.begin()
    if rows:
        t.upsert(spark.createDataFrame(list(rows), vt.schema))
    if deletes:
        t.delete_keys([{"k": k} for k in deletes])
    return t.commit()


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_snapshot_pins_its_csn_when_called(spark, tmp_path):
    vt = VersionedTable.create(spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA)
    _commit(vt, spark, [(1, "a"), (2, "b")])
    held = vt.snapshot()
    _commit(vt, spark, [(1, "a2"), (3, "c")], deletes=[2])
    assert _rows(held) == [(1, "a"), (2, "b")]
    assert _rows(vt.snapshot()) == [(1, "a2"), (3, "c")]


def test_recollect_after_checkpoint_and_vacuum_is_complete(spark, tmp_path):
    """A snapshot collected once, then checkpoint() + vacuum(0) reclaim the
    op dirs it pinned: the next collect re-resolves the op list at its
    csn and folds the checkpoint, the same rows."""
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=SCHEMA, num_buckets=4
    )
    _commit(vt, spark, [(i, f"a{i}") for i in range(20)])
    _commit(vt, spark, [(3, "b3")], deletes=[4])
    held = vt.snapshot()
    want = _rows(held)
    pinned = [op["dir"] for op in vt._committed_ops(None)]
    vt.checkpoint()
    vt.vacuum(retain_seconds=0.0)
    assert not any(os.path.isdir(d) for d in pinned)
    assert _rows(held) == want
    assert len(want) == 19 and (3, "b3") in want


def test_int64_above_2_53_reads_exact_everywhere(spark, tmp_path):
    """A tombstone's NULL in a LongType column once sent the fold through
    pandas float64, rounding 2**53 + 1 in snapshots and in the checkpoint
    file for good."""
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("n", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=schema, num_buckets=1
    )
    _commit(vt, spark, [(1, BIG), (2, 5)])
    _commit(vt, spark, deletes=[2])
    assert [(r.k, r.n) for r in vt.snapshot().collect()] == [(1, BIG)]
    assert [(r.k, r.n) for r in vt.lookup({"k": 1}).collect()] == [(1, BIG)]
    csn = vt.checkpoint()
    (f,) = glob.glob(os.path.join(vt.path, "data", f"checkpoint-{csn:010d}", "*", "*.parquet"))
    assert pq.read_table(f, columns=["k", "n"]).to_pylist() == [{"k": 1, "n": BIG}]
    assert [(r.k, r.n) for r in vt.snapshot().collect()] == [(1, BIG)]


def test_nan_and_null_keys_are_two_keys(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "t"), key_cols=["k"], schema=schema, num_buckets=1
    )
    _commit(vt, spark, [(float("nan"), "nan"), (None, "null"), (1.0, "one")])
    _commit(vt, spark, [(None, "null2")])

    def got():
        rows = vt.snapshot().collect()
        assert len(rows) == 3
        return {("null" if r.k is None else str(r.k), r.v) for r in rows}

    want = {("1.0", "one"), ("nan", "nan"), ("null", "null2")}
    assert got() == want
    vt.checkpoint()
    assert got() == want


# ------------------------------------------------------------------ source


def _calls(fn) -> set[str]:
    """Names of the functions and methods ``fn`` calls."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            f = n.func
            out.add(f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", ""))
    return out


def test_snapshot_and_checkpoint_build_one_fold_job():
    assert "_fold_job" in _calls(VersionedTable.snapshot)
    assert "_fold_job" in _calls(VersionedTable.checkpoint)
    assert "mapInArrow" in _calls(VersionedTable._fold_job)
    assert "mapInArrow" not in _calls(VersionedTable.snapshot)
    assert "mapInArrow" not in _calls(VersionedTable.checkpoint)


def test_snapshot_does_not_read_the_versioned_format():
    calls = _calls(VersionedTable.snapshot)
    assert not {"format", "register_versioned_format", "load"} & calls
    assert "format(" not in inspect.getsource(VersionedTable._pinned_reader)


def test_fold_has_no_pandas_round_trip():
    # the fold resolves through newest_versions, the step
    # Transaction.lookup_table shares
    assert "newest_versions" in _calls(VersionedSnapshotReader.fold)
    calls = _calls(VersionedSnapshotReader.fold) | _calls(newest_versions)
    assert not {"to_pandas", "from_pandas", "sort_values", "drop_duplicates"} & calls
    assert {"sort_indices", "group_by"} <= calls
