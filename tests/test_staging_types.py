"""Type fidelity of commit staging: the same rows staged through each of the
four ways an op reaches the writer — a pyarrow Table op, a frame whose
analyzed plan is a LocalRelation, a frame whose Project the optimizer folds
into a LocalRelation (both converted to Arrow by the driver JVM when the op
is added), and a distributed frame staged by a mapInArrow job — write
identical files. The process runs in a time zone other than UTC: a
timestamp must still stage as the same UTC instant on every path."""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from db_core_spark.plans import VersionedTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("d", T.DateType()),
        T.StructField("dec", T.DecimalType(38, 18)),
        T.StructField("b", T.BinaryType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("big", T.LongType()),
    ]
)

UTC = dt.timezone.utc
ROWS = [
    {
        "k": "a",
        # 03:04:05 UTC is 22:04:05 the day before in New York
        "ts": dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=UTC),
        "ntz": dt.datetime(2024, 1, 2, 3, 4, 5),
        "d": dt.date(2024, 2, 29),
        "dec": decimal.Decimal("12345678901234567890.123456789012345678"),
        "b": b"\x00\xffbytes",
        "x": float("nan"),
        "big": 2**53 + 1,
    },
    {
        "k": "None",
        # 01:30 on the New York fall-back night, first (EDT) pass
        "ts": dt.datetime(2024, 11, 3, 5, 30, tzinfo=UTC),
        "ntz": dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        "d": dt.date(1969, 12, 31),
        "dec": decimal.Decimal("-0.000000000000000001"),
        "b": b"",
        "x": None,
        "big": -(2**63),
    },
    {
        "k": None,
        # 01:30 on the same night, second (EST) pass
        "ts": dt.datetime(2024, 11, 3, 6, 30, 0, 123456, tzinfo=UTC),
        "ntz": None,
        "d": None,
        "dec": None,
        "b": None,
        "x": -0.0,
        "big": 2**63 - 1,
    },
    {
        "k": "b",
        "ts": dt.datetime(1960, 7, 1, 12, 0, 0, 1, tzinfo=UTC),
        "ntz": dt.datetime(2030, 6, 15, 1, 2, 3, 10),
        "d": dt.date(2000, 1, 1),
        "dec": decimal.Decimal("0"),
        "b": bytes(range(256)),
        "x": 1e308,
        "big": None,
    },
]


@pytest.fixture
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _staged(vt) -> dict[str, tuple]:
    """bucket dir -> (the sorted rows of the files the ops wrote there, as
    repr so NaN equals NaN; the set of those files' arrow schemas). A
    distributed op writes a file per task and bucket, so files are compared
    by their rows and schemas, not one to one."""
    out: dict[str, tuple[list, set]] = {}
    for p in glob.glob(os.path.join(vt.path, "data", "tsn=*", "opseq=*", "bucket=*", "*")):
        tbl = pq.read_table(p)
        rows, schemas = out.setdefault(os.path.basename(os.path.dirname(p)), ([], set()))
        rows.extend(repr(r) for r in tbl.to_pylist())
        schemas.add(repr(tbl.schema))
    return {b: (sorted(rows), schemas) for b, (rows, schemas) in out.items()}


def test_four_staging_paths_write_identical_files(spark, tmp_path, new_york_tz):
    assert time.localtime(1704164645).tm_hour == 22  # 2024-01-02 03:04:05 UTC
    src = pa.Table.from_pylist(ROWS, schema=to_arrow_schema(SCHEMA))
    folded = spark.createDataFrame(src).withColumn("big", F.col("big") + F.lit(0))
    for frame, analyzed in ((spark.createDataFrame(src), "LocalRelation"), (folded, "Project")):
        qe = frame._jdf.queryExecution()
        assert (qe.analyzed().nodeName(), qe.optimizedPlan().nodeName()) == (
            analyzed, "LocalRelation"
        )
    paths = {
        # name: (the op's rows, whether the op is a Table op once added)
        "table_op": (lambda: src, True),
        "analyzed_local": (lambda: spark.createDataFrame(src), True),
        "folded_local": (lambda: folded, True),
        "distributed": (lambda: spark.createDataFrame(src).repartition(2), False),
    }
    staged, rows_a = {}, {}
    for name, (make, table_op) in paths.items():
        vt = VersionedTable.create(spark, str(tmp_path / name), ["k"], SCHEMA, num_buckets=4)
        txn = vt.begin()
        txn.upsert(make())
        assert isinstance(txn._ops[0].rows, pa.Table) == table_op, name
        txn.delete_keys([{"k": "b"}])
        txn.commit()
        staged[name] = _staged(vt)
        rows_a[name] = vt.lookup_table({"k": "a"}).to_pylist()

    want = staged.pop("table_op")
    assert want
    for name, got in staged.items():
        assert got == want, name
    # every path stores the source's instants, not instants shifted by the
    # process's UTC offset
    for name, (row,) in rows_a.items():
        assert (row["ts"], row["ntz"], row["big"]) == (
            ROWS[0]["ts"], ROWS[0]["ntz"], ROWS[0]["big"]
        ), name
