"""Python DataSource (Spark 4 `pyspark.sql.datasource`) exposing the
VersionedTable commit log as a first-class Spark format:

    spark.dataSource.register(VersionedDataSource)
    spark.read.format("versioned").option("path", p).load()            # snapshot
    spark.read.format("versioned").option("asOfCsn", 3).load()         # time travel
    spark.readStream.format("versioned").option("path", p).load()      # CDC tail

and a transactional batch writer:

    df.write.format("versioned").mode("append").option("path", p).save()

Reference-parity map (citations into /root/reference):
- snapshot reader    <- the MVCC read path, src/storage/block_driver.rs:457-486:
  each partition resolves "newest visible version per key, tombstones hidden"
  for its slice of the key space.
- CDC stream reader  <- tailing the WAL, src/log_mgr/io.rs:254-441: offsets are
  csns; each micro-batch is the fold of manifests in (start_csn, end_csn].
- batch writer       <- group commit, src/system/instance.rs:102-111 +
  src/log_mgr/buf.rs: executors stage parquet parts independently (the
  double-buffered WAL appends), the driver's single `commit()` publishes one
  manifest atomically (flush-on-commit).

Scale design: the snapshot reader's partitions are key-hash bucket groups
matching the physical bucket=<b>/ layout: each partition LISTS ONLY its
buckets' files across ops and resolves versions locally, one bucket at a
time — pruned IO and no shuffle (the same co-location argument as the
reference's per-object version chains). A direct format("versioned") read
plans one partition per bucket unless numPartitions says otherwise;
VersionedTable.snapshot() and checkpoint() ask for
min(num_buckets, defaultParallelism) and declare the schema.
keyEquals=<json> plans a single partition for a point lookup and
pushes the bound key columns into the parquet scan; VersionedTable.lookup
and the ObjectStore's committed reads hand the key over as Python values
and run that partition's fold (`VersionedSnapshotReader.fold`) in the
driver process instead of as a Spark job — one fold implementation for
both. includeMeta=true emits (_csn,_opseq,_deleted,bucket) winners so
checkpoints write partitionBy(bucket) without a shuffle. Unbucketed
(legacy) tables fall back to full-scan + seedless row-hash filtering; ops
whose bucket count differs from the table meta (layout migration) fall
back per-op.

Commit log: this module keeps no copy of the protocol. Readers and writers
call the functions in plans/versioned.py that VersionedTable and
Transaction call — log_names, committed_ops (op list from the newest
checkpoint, group visibility, the reclaimed-history guard),
visible_manifests, claim_csn (the conflict-checked csn claim) and
merge_write_sets — passing the group grace persisted in the table's
_meta.json (`_table_grace`), since a DataSource has no EngineConfig.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from db_core_spark.config import DEFAULT_CONFIG
from db_core_spark.plans.versioned import (
    bucket_of_py,
    claim_csn,
    committed_ops,
    latest_csn,
    log_names,
    merge_write_sets,
    physical_arrow_schema,
    read_manifest,
    reclaimed_csns,
    visible_manifests,
    write_bucketed,
    write_set_keys,
)

META_FIELDS = [
    T.StructField("_csn", T.LongType()),
    T.StructField("_change", T.StringType()),
]


def _load_meta(path: str) -> tuple[list[str], T.StructType, int, list[str]]:
    with open(os.path.join(path, "_meta.json")) as fh:
        meta = json.load(fh)
    key_cols = meta["key_cols"]
    return (
        key_cols,
        T.StructType.fromJson(meta["schema"]),
        meta.get("num_buckets", 0),
        meta.get("bucket_cols", key_cols),
    )


def _table_grace(path: str) -> float:
    """The grace window persisted in the table's _meta.json at create time;
    falls back to the library default for tables created before the field
    existed. Reading it here (instead of DEFAULT_CONFIG) keeps DataSource
    reads from force-aborting a healthy in-flight group commit whose owner
    configured a LONGER grace than this process's default. Cached per
    (path, meta mtime) — one stat per call instead of one JSON parse, and
    a table dropped and recreated at the same path (or a rebucket's meta
    rewrite) refreshes instead of serving the dead table's value."""
    meta_path = os.path.join(path, "_meta.json")
    try:
        mtime = os.stat(meta_path).st_mtime_ns
    except OSError:
        return DEFAULT_CONFIG.group_pending_grace_seconds
    return _table_grace_at(meta_path, mtime)


@functools.lru_cache(maxsize=256)
def _table_grace_at(meta_path: str, mtime: int) -> float:
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
        return float(
            meta.get(
                "group_pending_grace_seconds",
                DEFAULT_CONFIG.group_pending_grace_seconds,
            )
        )
    except (OSError, ValueError, TypeError):
        # Malformed/torn meta must degrade to the default grace, not crash
        # planning (the publish path writes meta tmp+replace, but a reader
        # can still race a torn NFS view or a hand-edited file).
        return DEFAULT_CONFIG.group_pending_grace_seconds


def _op_table_dir(
    dir_path: str, op: dict, data_cols: list[str], data_schema=None, row_filter=None
):
    """Load one directory (an op dir, or one bucket=<b>/ subdir of it) as a
    pyarrow table with _csn/_opseq/_deleted attached. Op part files
    physically carry (data cols, _deleted, _opseq); checkpoints carry _csn
    too. Column projection and `row_filter` (a pyarrow expression) happen at
    the parquet reader. Columns added by alter_add_column after this op was
    written are null-filled (pass `data_schema` to type the fill)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    want = data_cols + ["_deleted", "_opseq"] + (["_csn"] if op["checkpoint"] else [])
    ds = pads.dataset(dir_path, format="parquet")
    avail = set(ds.schema.names)
    present = [c for c in want if c in avail]
    tbl = ds.to_table(columns=present, filter=row_filter)
    missing = [c for c in want if c not in avail]
    if missing:
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_types = {
            f.name: f.type for f in to_arrow_schema(data_schema)
        } if data_schema is not None else {}
        for c in missing:
            tbl = tbl.append_column(
                c, pa.nulls(len(tbl), type=arrow_types.get(c, pa.null()))
            )
    if data_schema is not None:
        # Normalize data columns to the table's canonical arrow schema:
        # JVM-written parquet (txn/checkpoint path; INT96 -> timestamp[ns]
        # naive) and python-staged parquet (batch/stream writers ->
        # timestamp[us, tz=UTC]) must concat into ONE arrow table, and
        # naive-vs-tz timestamp fields refuse to merge. Both writers store
        # UTC instants at microsecond semantic precision, so casting to the
        # Spark schema's arrow type (time truncation allowed: ns -> us) is
        # value-exact.
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        want_types = {f.name: f.type for f in to_arrow_schema(data_schema)}
        for idx, name in enumerate(tbl.schema.names):
            t = want_types.get(name)
            if t is not None and tbl.schema.field(idx).type != t:
                tbl = tbl.set_column(
                    idx,
                    name,
                    pc.cast(
                        tbl.column(name),
                        options=pc.CastOptions(
                            target_type=t, allow_time_truncate=True
                        ),
                    ),
                )
    if not op["checkpoint"]:
        tbl = tbl.append_column(
            "_csn", pa.array([op["csn"]] * len(tbl), type=pa.int64())
        )
    return tbl


def _typed_key(key: dict, data_schema: T.StructType) -> dict:
    """Key values as the fold compares them: a datetime bound to a
    TimestampType column becomes tz-aware UTC, a naive one read as UTC —
    the session time zone and key_string's rule — for the bucket choice
    and the row filter alike. Without it a naive key never equals the
    column's tz-aware values."""
    import datetime

    utc = datetime.timezone.utc
    out = dict(key)
    for f in data_schema.fields:
        v = key.get(f.name)
        if isinstance(f.dataType, T.TimestampType) and isinstance(v, datetime.datetime):
            out[f.name] = (v if v.tzinfo else v.replace(tzinfo=utc)).astimezone(utc)
    return out


def _key_scan_filter(key_equals: dict, key_cols: list[str], data_schema):
    """Split keyEquals into a pyarrow scan predicate and the entries left for
    the row filter after version resolution. Only key columns are pushed:
    equality on a subset of key_cols keeps or drops a key's versions as a
    whole, so the newest-version rule is unchanged; a predicate on any other
    column could hide a tombstone and resurrect an older version. A value is
    pushed only when it converts exactly to the column's arrow type;
    anything else (a string for an int column, null, NaN) stays with the
    pandas `==` filter, which answers it as before instead of raising an
    Arrow type error. Timestamps stay with the row filter too: the JVM
    writer stores them naive (timestamp[ns]) and the pyarrow writer
    tz-aware, and the scan compares against each file's own type, so no
    one scalar matches both; the row filter sees them after
    `_op_table_dir` casts every file to the table's type."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    from pyspark.sql.pandas.types import to_arrow_schema

    types = {f.name: f.type for f in to_arrow_schema(data_schema)}
    pushed, rest = None, {}
    for c, v in key_equals.items():
        t = types.get(c)
        scalar = None
        if c in key_cols and t is not None and not (
            pa.types.is_nested(t) or pa.types.is_timestamp(t)
        ):
            try:
                s = pa.scalar(v, type=t)
                if s.is_valid and s.as_py() == v:
                    scalar = s
            except (pa.ArrowException, TypeError, ValueError, OverflowError):
                pass
        if scalar is None:
            rest[c] = v
            continue
        term = pads.field(c) == scalar
        pushed = term if pushed is None else pushed & term
    return pushed, rest


@dataclass
class KeyBucketPartition(InputPartition):
    """Legacy-layout partition: reads every op file, row-filters its hash
    slice (the correct fallback when the physical layout is unbucketed)."""

    bucket: int
    num_buckets: int


@dataclass
class BucketSetPartition(InputPartition):
    """Bucketed-layout partition: owns a set of physical buckets and lists
    ONLY their bucket=<b>/ files — layout-pruned IO, the 100 TB path."""

    buckets: tuple


META_SCHEMA_FIELDS = [
    T.StructField("_csn", T.LongType()),
    T.StructField("_opseq", T.LongType()),
    T.StructField("_deleted", T.BooleanType()),
    T.StructField("bucket", T.IntegerType()),
]


class VersionedSnapshotReader(DataSourceReader):
    """Batch reader: MVCC snapshot at asOfCsn (default: latest). The op list
    is resolved once at planning time (driver) so every task folds the same
    manifest set — a consistent read even while writers keep committing.

    Bucketed tables (meta num_buckets > 0): partitions are bucket groups —
    numPartitions of them (default: one per bucket), bucket b in group
    b % numPartitions. Each lists only its buckets' bucket=<b>/ subdirs of
    each op — pruned file listings + in-partition version resolution, no
    shuffle anywhere (parity: per-object chain walk,
    block_driver.rs:461-486). `read` folds a group one bucket at a time, so
    a task holds one bucket's versions however wide its group. A keyEquals
    option plans a SINGLE partition for the key's bucket and filters its key
    columns in the parquet scan. Ops written with a
    different bucket count than the table meta (layout migration) fall back
    to read+row-filter for that op only.

    includeMeta=true emits (_csn, _opseq, _deleted, bucket) winners for the
    shuffle-free checkpoint writer.

    `fold(partition)` resolves a partition as one pyarrow table. Spark
    tasks stream per-bucket folds from `read`; VersionedTable point reads
    call it on the driver with the op list they pinned (`ops`) and the key
    as Python values (`key_equals`, so dates and timestamps need no JSON
    form), so one fold serves both."""

    def __init__(
        self,
        schema: T.StructType,
        options: dict,
        ops: list[dict] | None = None,
        key_equals: dict | None = None,
    ):
        self.path = options["path"]
        as_of = options.get("asofcsn")
        self.as_of = int(as_of) if as_of is not None else None
        self.include_meta = str(options.get("includemeta", "false")).lower() == "true"
        self.key_cols, self.data_schema, self.num_buckets, self.bucket_cols = _load_meta(
            self.path
        )
        if key_equals is None and options.get("keyequals"):
            key_equals = json.loads(options["keyequals"])
        self.key_equals: dict | None = (
            _typed_key(key_equals, self.data_schema) if key_equals is not None else None
        )
        self.ops = (
            ops
            if ops is not None
            else committed_ops(self.path, self.as_of, _table_grace(self.path))
        )
        if self.num_buckets > 0:
            if self.key_equals is not None:
                missing = [c for c in self.bucket_cols if c not in self.key_equals]
                if missing:
                    raise ValueError(
                        f"keyEquals must bind every bucket column; missing {missing}"
                    )
                target = bucket_of_py(
                    [self.key_equals[c] for c in self.bucket_cols], self.num_buckets
                )
                self.bucket_groups = [(target,)]
            else:
                p = int(options.get("numpartitions", self.num_buckets))
                p = max(1, min(p, self.num_buckets))
                self.bucket_groups = [
                    tuple(b for b in range(self.num_buckets) if b % p == i)
                    for i in range(p)
                ]
        else:
            if self.include_meta:
                raise ValueError("includeMeta requires a bucketed table layout")
            self.legacy_parts = int(options.get("numpartitions", 8))
            self.bucket_groups = None

    # NOTE — filter pushdown (DataSourceReader.pushFilters) was implemented
    # and then REMOVED after a verified correctness leak: Spark constructs
    # ONE python reader instance per load() and reuses it for every query
    # derived from that DataFrame, so per-query partition pruning mutated in
    # pushFilters leaks into sibling queries (measured: an unfiltered
    # count() after a pruned point lookup returned only the pruned bucket's
    # rows). Until the API gives per-query reader instances, explicit
    # .option("keyEquals", ...) remains the safe single-bucket path; plain
    # .filter() predicates stay row-wise correct (just unpruned).

    # ------------------------------------------------------------- planning

    def partitions(self):
        if self.bucket_groups is not None:
            return [BucketSetPartition(buckets=g) for g in self.bucket_groups]
        return [
            KeyBucketPartition(b, self.legacy_parts) for b in range(self.legacy_parts)
        ]

    def dirs_for_partition(self, partition) -> list[tuple[str, dict, bool]]:
        """(dir, op, pruned) listing this partition will read — planning is
        inspectable so tests can assert single-bucket IO pruning."""
        out = []
        for op in self.ops:
            if (
                isinstance(partition, BucketSetPartition)
                and op["buckets"] == self.num_buckets
            ):
                if not os.path.isdir(op["dir"]):
                    # the op list was pinned at plan time; the whole op dir
                    # vanishing means vacuum reclaimed it between planning
                    # and this task — fail LOUDLY rather than silently
                    # returning a partial fold (a missing bucket=<b>/
                    # subdir below, by contrast, just means the op wrote
                    # no rows for that bucket and is skipped legitimately)
                    raise RuntimeError(
                        f"versioned read: op dir {op['dir']} (csn={op['csn']}) "
                        "vanished mid-read — vacuum raced this pinned snapshot; "
                        "re-run the read on a fresh snapshot"
                    )
                for b in partition.buckets:
                    d = os.path.join(op["dir"], f"bucket={b}")
                    if os.path.isdir(d):
                        out.append((d, op, True))
            else:
                out.append((op["dir"], op, False))
        return out

    # -------------------------------------------------------------- reading

    def output_schema(self) -> T.StructType:
        if self.include_meta:
            return T.StructType(list(self.data_schema.fields) + META_SCHEMA_FIELDS)
        return self.data_schema

    def read(self, partition):
        parts = (
            [BucketSetPartition(buckets=(b,)) for b in partition.buckets]
            if isinstance(partition, BucketSetPartition)
            else [partition]
        )
        for part in parts:
            yield from self.fold(part).to_batches()

    def fold(self, partition):
        """Resolve this partition's rows: newest visible version per key,
        tombstones hidden, as a pyarrow table typed by `output_schema()`."""
        import pandas as pd
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        data_cols = [f.name for f in self.data_schema.fields]
        out_cols = self.output_schema().fieldNames()
        out_schema = to_arrow_schema(self.output_schema())
        empty = out_schema.empty_table()
        if not self.ops:
            return empty
        scan_filter, row_filter = None, {}
        if self.key_equals is not None:
            scan_filter, row_filter = _key_scan_filter(
                self.key_equals, self.key_cols, self.data_schema
            )
        tables = []
        for d, op, pruned in self.dirs_for_partition(partition):
            tbl = _op_table_dir(
                d, op, data_cols, data_schema=self.data_schema, row_filter=scan_filter
            )
            if pruned:
                b = int(os.path.basename(d).split("=", 1)[1])
                tbl = tbl.append_column(
                    "bucket", pa.array([b] * len(tbl), type=pa.int32())
                )
            tables.append(tbl)
        if not tables:
            return empty
        tbl = pa.concat_tables(tables, promote_options="permissive")
        pdf = tbl.to_pandas()
        if "bucket" not in pdf.columns or pdf["bucket"].isna().any():
            # unpruned rows: compute the bucket (bucketed layout) or the
            # legacy seedless pandas hash slice, then filter to ours
            if self.bucket_groups is not None:
                key_vals = pdf[self.bucket_cols].itertuples(index=False, name=None)
                computed = pd.Series(
                    [bucket_of_py(list(kv), self.num_buckets) for kv in key_vals],
                    index=pdf.index,
                    dtype="int64",
                )
                if "bucket" in pdf.columns:
                    pdf["bucket"] = pdf["bucket"].fillna(computed).astype("int64")
                else:
                    pdf["bucket"] = computed
                pdf = pdf[pdf["bucket"].isin(list(partition.buckets))]
            else:
                h = (
                    pd.util.hash_pandas_object(
                        pdf[self.key_cols].astype(str).agg("\x00".join, axis=1),
                        index=False,
                    )
                    % partition.num_buckets
                )
                pdf = pdf[h == partition.bucket]
        if len(pdf) == 0:
            return empty
        # visibility rule (block_driver.rs:457-486): newest (_csn,_opseq)
        # version per key wins; tombstone winners hide the key
        pdf = (
            pdf.sort_values(["_csn", "_opseq"], ascending=False, kind="mergesort")
            .drop_duplicates(self.key_cols, keep="first")
        )
        pdf = pdf[~pdf["_deleted"]]
        for c, v in row_filter.items():
            pdf = pdf[pdf[c] == v]
        if len(pdf) == 0:
            return empty
        out = pa.Table.from_pandas(pdf[out_cols], preserve_index=False).select(out_cols)
        return out.cast(out_schema)


@dataclass
class CDCPartition(InputPartition):
    """One executor task of a CDC micro-batch: a single directory (an op
    dir, or one bucket=<b>/ subdir of it for bucketed layouts) plus the
    commit identity to stamp on its rows. ``opseq`` is the op's position
    WITHIN its transaction — surfaced as an ``_opseq`` column only when
    the reader was opened with includeOpseq (merge_from needs it: a txn
    that upserts then deletes the same key emits both rows at one csn,
    and 'latest change per key' is undecidable from _csn alone)."""

    dir: str
    csn: int
    kind: str
    opseq: int = 0


class VersionedChangeStreamReader(DataSourceStreamReader):
    """Partition-planning CDC tail of the commit log: offsets are csns; a
    micro-batch is every change row published in (start_csn, end_csn].
    WAL-tailing parity: src/log_mgr/io.rs:254-441.

    Scale shape: the driver only lists manifests (metadata); each op dir —
    per bucket subdir when the layout is bucketed — becomes its own input
    partition, so a large backfill replay fans out across executors instead
    of funneling through the driver (the round-1 Simple reader read every
    batch driver-side; this keeps its csn-offset contract)."""

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        self.key_cols, self.data_schema, _, _ = _load_meta(self.path)
        start = options.get("startingcsn")
        self.start_csn = int(start) if start is not None else 0
        self.include_opseq = (
            str(options.get("includeopseq", "false")).lower() == "true"
        )

    def initialOffset(self) -> dict:
        return {"csn": self.start_csn}

    def latestOffset(self) -> dict:
        deltas = [c for c, is_ck, _ in log_names(self.path) if not is_ck]
        return {"csn": max(deltas, default=self.start_csn)}

    def partitions(self, start: dict, end: dict) -> list[CDCPartition]:
        parts: list[CDCPartition] = []
        # name-bounded: only manifests inside the batch window are opened;
        # an aborted/force-aborted group contributes no change rows
        for m in visible_manifests(
            self.path, log_names(self.path), start["csn"], end["csn"],
            _table_grace(self.path),
        ):
            for op in m["ops"]:
                has_pre = bool(op.get("preimages"))
                pre_dir = os.path.join(op["dir"], "_preimg")
                if has_pre and op["kind"] == "delete":
                    # preimage-enabled delete: emit the old rows WITH their
                    # column values as the delete change rows (instead of
                    # the key-only tombstones in the op dir) — deleting a
                    # key that never existed emits nothing, which is the
                    # correct retraction semantics
                    parts.append(
                        CDCPartition(
                            dir=pre_dir, csn=m["csn"], kind="delete",
                            opseq=int(op.get("opseq", 0)),
                        )
                    )
                    continue
                bucket_dirs = (
                    sorted(
                        os.path.join(op["dir"], d)
                        for d in os.listdir(op["dir"])
                        if d.startswith("bucket=")
                    )
                    if op.get("buckets", 0) > 0 and os.path.isdir(op["dir"])
                    else []
                )
                for d in bucket_dirs or [op["dir"]]:
                    parts.append(
                        CDCPartition(
                            dir=d, csn=m["csn"], kind=op["kind"],
                            opseq=int(op.get("opseq", 0)),
                        )
                    )
                if has_pre:
                    # upsert with preimages: previous values of updated keys
                    # ride along as update_preimage retraction rows
                    parts.append(
                        CDCPartition(
                            dir=pre_dir, csn=m["csn"], kind="update_preimage",
                            opseq=int(op.get("opseq", 0)),
                        )
                    )
        return parts

    def read(self, partition: CDCPartition) -> Iterator[Tuple]:
        data_cols = [f.name for f in self.data_schema.fields]
        tbl = _op_table_dir(
            partition.dir,
            {"csn": partition.csn, "checkpoint": False},
            data_cols,
            data_schema=self.data_schema,
        )
        extra = (partition.opseq,) if self.include_opseq else ()
        for row in tbl.select(data_cols).to_pylist():
            yield (
                tuple(row[c] for c in data_cols)
                + (partition.csn, partition.kind)
                + extra
            )

    def commit(self, end: dict) -> None:
        pass  # manifests are immutable; nothing to release per epoch


def _stage_rows(
    iterator,
    data_schema: T.StructType,
    key_cols: list,
    num_buckets: int,
    bucket_cols: list,
    out_dir: str,
) -> tuple[list, int, list | None]:
    """Executor-side staging shared by the batch and streaming writers:
    materialize this partition's rows as parquet under ``out_dir`` through
    write_bucketed (bucket=<b>/ subdirs when the table is bucketed — the
    same writer Transaction._stage uses for driver-resident ops, and the
    python twin of the JVM bucket_expr; the writers MUST agree or
    in-partition version resolution breaks, tested) and return (relative
    file paths, row count, key_string write-set or None when above the
    tracking cap)."""
    import pandas as pd
    import pyarrow as pa

    data_cols = [f.name for f in data_schema.fields]
    rows = [tuple(r) for r in iterator]
    pdf = pd.DataFrame(rows, columns=data_cols)
    pdf["_deleted"] = False
    pdf["_opseq"] = 0
    tbl = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        physical_arrow_schema(data_schema)
    )
    rel_paths = write_bucketed(tbl, out_dir, num_buckets, bucket_cols)
    # the part's write-set in the key_string form every writer records, so
    # the writer kinds compare like-for-like
    part_keys: list | None = list(write_set_keys(tbl, key_cols))
    if len(part_keys) > DEFAULT_CONFIG.max_tracked_keys:
        part_keys = None
    return rel_paths, len(rows), part_keys


@dataclass
class StagedPart(WriterCommitMessage):
    file_path: str
    n_rows: int
    # canonical-string write-set of this part; None = too large to track
    keys: list | None = None


class VersionedAppendWriter(DataSourceWriter):
    """Transactional bulk append: executors stage independent parquet parts
    under one tsn (the WAL-buffer appends); the driver's commit() publishes
    ONE manifest for all of them (group commit, system/instance.rs:102-111). A
    failed job leaves only unpublished files — invisible by construction.

    Conflict protection is Transaction's own (tran_mgr parity): each part
    enumerates its distinct key set, merge_write_sets unions them
    (degrading to 'conflicts with anything' above
    DEFAULT_CONFIG.max_tracked_keys), and commit() claims its csn through
    claim_csn over the conflict window that opens at `start_csn`, pinned
    at planning time (Spark pickles the planned instance and runs commit()
    on it). Any overlapping commit published in that window aborts the
    append with ConflictError, and so does a window that vacuum partly
    reclaimed, so two concurrent writers upserting the same keys can no
    longer both win (no silent last-csn lost update)."""

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        self.key_cols, self.data_schema, self.num_buckets, self.bucket_cols = _load_meta(
            self.path
        )
        if [f.name for f in schema.fields] != [f.name for f in self.data_schema.fields]:
            raise ValueError(
                f"schema mismatch: table has {self.data_schema.fieldNames()}, "
                f"write has {schema.fieldNames()}"
            )
        self.tsn = "t" + uuid.uuid4().hex[:12]
        self.op_dir = os.path.join(self.path, "data", f"tsn={self.tsn}", "opseq=0")
        # snapshot pin at plan time: manifests committed after this are
        # 'concurrent' for the optimistic conflict check in commit()
        self.start_csn = latest_csn(self.path)

    def write(self, iterator) -> StagedPart:
        rel_paths, n_rows, part_keys = _stage_rows(
            iterator,
            self.data_schema,
            self.key_cols,
            self.num_buckets,
            self.bucket_cols,
            self.op_dir,
        )
        fname = (
            self.op_dir
            if self.num_buckets > 0
            else os.path.join(self.op_dir, rel_paths[0])
        )
        return StagedPart(file_path=fname, n_rows=n_rows, keys=part_keys)

    def commit(self, messages) -> None:
        parts = [m for m in messages if m is not None]
        claim_csn(
            self.path,
            self.start_csn,
            self.tsn,
            [{"dir": self.op_dir, "opseq": 0, "kind": "upsert", "buckets": self.num_buckets}],
            merge_write_sets(m.keys for m in parts),
            _table_grace(self.path),
            f"bulk append {self.tsn}",
            extra={"rows": sum(m.n_rows for m in parts)},
        )

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.dirname(self.op_dir), ignore_errors=True)


@dataclass
class StagedStreamPart(WriterCommitMessage):
    rel_paths: list
    n_rows: int
    keys: list | None = None


class VersionedStreamWriter(DataSourceStreamWriter):
    """Native exactly-once streaming sink: .writeStream.format("versioned").

    Per micro-batch, executors stage parquet parts into a shared staging
    area (_stage_rows — identical layout rules as the batch writer and txn
    path); the driver's commit(messages, batchId) MOVES exactly this
    batch's staged files into a fresh tsn op dir and publishes ONE manifest
    carrying the (writer, epoch) identity — the same idempotency contract
    as streaming.ops.commit_microbatch, so a replayed epoch (Structured
    Streaming re-delivers the batch after a crash between sink commit and
    checkpoint advance) is detected BEFORE publish, its staged files are
    discarded, and snapshot AND CDC readers never observe duplicates.

    Reference parity: this is the WAL-append path driven by a continuous
    writer — staged parts are the double-buffered WAL appends
    (/root/reference/src/log_mgr/buf.rs), publish-by-manifest is the
    commit-record flush (log_mgr/io.rs:99-103), and the (writer, epoch)
    marker plays the recovery-dedup role of the reference's tsn replay
    check (system/instance.rs:221-304).

    Concurrency: the epoch claims its csn through claim_csn, Transaction's
    own conflict check, over the manifests committed since
    `last_seen_csn` with this writer's own manifests skipped; an overlap,
    or a window vacuum partly reclaimed, raises ConflictError and the
    stream fails loudly rather than losing an update. `last_seen_csn` is
    the newest csn when this instance was built, or its own last publish."""

    def __init__(self, schema: T.StructType, options: dict):
        self.path = options["path"]
        (
            self.key_cols,
            self.data_schema,
            self.num_buckets,
            self.bucket_cols,
        ) = _load_meta(self.path)
        if [f.name for f in schema.fields] != [
            f.name for f in self.data_schema.fields
        ]:
            raise ValueError(
                f"schema mismatch: table has {self.data_schema.fieldNames()}, "
                f"stream write has {schema.fieldNames()}"
            )
        # Writer identity keys the exactly-once replay check — it must be
        # unique PER QUERY LIFETIME, not per table: a restart with a NEW
        # checkpoint location resets batchId to 0, and if the identity were
        # derived from the table path alone the new query's early epochs
        # would match the old query's (writer, epoch) manifests and be
        # silently discarded as replays. Default derives from the
        # checkpoint location (new checkpoint <=> new batchId counter <=>
        # new identity); with neither writerId nor checkpointLocation there
        # is nothing safe to derive from, so fail loudly.
        # NOTE deliberately NOT derived from the session conf
        # spark.sql.streaming.checkpointLocation: that conf names a PARENT
        # directory — an unnamed query checkpoints under a fresh random
        # subdir each start (batchId resets every restart), so a
        # conf-derived identity would be shared across restarts and
        # reintroduce the replay-discard data loss this check exists to
        # prevent. Only the per-query values are safe to key on.
        ckpt = options.get("checkpointlocation")
        self.writer_id = options.get("writerid") or (
            f"streamwriter:{self.path}@{ckpt}" if ckpt else None
        )
        if self.writer_id is None:
            raise ValueError(
                "versioned stream sink needs .option('writerId', ...) or a "
                "per-query .option('checkpointLocation', ...) to derive one: "
                "a table-path-only default would treat a restarted query's "
                "early epochs as replays of an older checkpoint's and "
                "silently drop them. (The session conf "
                "spark.sql.streaming.checkpointLocation is NOT a substitute: "
                "it is a parent dir under which unnamed queries get a fresh "
                "random checkpoint each start, so an identity derived from "
                "it would be wrongly shared across restarts.)"
            )
        # DETERMINISTIC staging dir (a hash of the writer identity): Spark
        # instantiates this class separately for planning, executor write
        # tasks, and driver commit — all instances must agree on where the
        # staged parts live. Two concurrent streams into one table need
        # distinct .option("writerId", ...) values (else they'd share a
        # stage and race); the exactly-once epoch check keys on the same id.
        import hashlib

        self.stage_root = os.path.join(
            self.path,
            "data",
            "_staging",
            hashlib.md5(self.writer_id.encode()).hexdigest()[:16],
        )
        self.last_seen_csn = latest_csn(self.path)

    def write(self, iterator) -> StagedStreamPart:
        rel_paths, n_rows, part_keys = _stage_rows(
            iterator,
            self.data_schema,
            self.key_cols,
            self.num_buckets,
            self.bucket_cols,
            self.stage_root,
        )
        return StagedStreamPart(rel_paths=rel_paths, n_rows=n_rows, keys=part_keys)

    def _discard(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for rel in m.rel_paths:
                try:
                    os.remove(os.path.join(self.stage_root, rel))
                except OSError:
                    pass

    def commit(self, messages, batchId: int) -> None:
        import shutil

        live = [m for m in messages if m is not None and m.n_rows > 0]
        if not live:
            self._discard(messages)
            return
        # exactly-once: a replayed epoch is already durable — drop the stage
        for _, _, name in log_names(self.path):
            mf = read_manifest(self.path, name)
            if (
                mf.get("writer") == self.writer_id
                and mf.get("epoch") == batchId
            ):
                self._discard(messages)
                return
        tsn = f"s{uuid.uuid4().hex[:10]}b{batchId}"
        op_dir = os.path.join(self.path, "data", f"tsn={tsn}", "opseq=0")
        for m in live:
            for rel in m.rel_paths:
                dest = os.path.join(op_dir, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(os.path.join(self.stage_root, rel), dest)
        self.last_seen_csn = claim_csn(
            self.path,
            self.last_seen_csn,
            tsn,
            [{"dir": op_dir, "opseq": 0, "kind": "upsert", "buckets": self.num_buckets}],
            merge_write_sets(m.keys for m in live),
            _table_grace(self.path),
            f"stream sink epoch {batchId}",
            extra={
                "rows": sum(m.n_rows for m in live),
                "writer": self.writer_id,
                "epoch": batchId,
            },
            own_writer=self.writer_id,
        )
        shutil.rmtree(self.stage_root, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        self._discard(messages)


class VersionedDataSource(DataSource):
    """format("versioned"): batch snapshot / time-travel reads, CDC streaming
    reads, and transactional appends over a VersionedTable directory."""

    @classmethod
    def name(cls) -> str:
        return "versioned"

    def _mode(self) -> str:
        return self.options.get("readchanges", "false").lower()

    def schema(self):
        _, data_schema, _, _ = _load_meta(self.options["path"])
        if self._mode() == "true":
            fields = list(data_schema.fields) + META_FIELDS
            if str(self.options.get("includeopseq", "false")).lower() == "true":
                # opt-in ONLY (merge_from): the public feed shape stays
                # (_csn, _change) for every existing consumer/oracle
                fields = fields + [T.StructField("_opseq", T.LongType())]
            return T.StructType(fields)
        if str(self.options.get("includemeta", "false")).lower() == "true":
            return T.StructType(list(data_schema.fields) + META_SCHEMA_FIELDS)
        return data_schema

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if self._mode() == "true":
            return VersionedChangesBatchReader(schema, dict(self.options))
        return VersionedSnapshotReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise NotImplementedError(
                "mode('overwrite') unsupported; use VersionedTable txns for "
                "update/delete semantics, or append + checkpoint/vacuum"
            )
        return VersionedAppendWriter(schema, dict(self.options))

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise NotImplementedError(
                "streaming overwrite unsupported; the sink appends/upserts "
                "one ACID commit per micro-batch"
            )
        return VersionedStreamWriter(schema, dict(self.options))

    def streamReader(self, schema: T.StructType):
        if self._mode() != "true":
            raise ValueError(
                "streaming reads are CDC reads: pass "
                ".option('readChanges', 'true') so the schema carries "
                "(_csn, _change)"
            )
        return VersionedChangeStreamReader(schema, dict(self.options))


def register(spark) -> None:
    """Idempotently register format('versioned') on a session."""
    spark.dataSource.register(VersionedDataSource)


class VersionedChangesBatchReader(DataSourceReader):
    """BATCH change feed (the table_changes(from, to) shape): every change
    row committed in (fromCsn, toCsn], with (_csn, _change) metadata and
    pre-image retraction rows where the table records them. Reuses the
    stream reader's name-bounded partition planning verbatim, so a batch
    backfill fans out one input partition per op/bucket dir exactly like a
    streaming replay — the driver only lists manifests."""

    def __init__(self, schema: T.StructType, options: dict):
        self._delegate = VersionedChangeStreamReader(schema, options)
        names = log_names(options["path"])
        from_csn = int(options.get("fromcsn", 0))
        to = options.get("tocsn")
        if to is not None:
            to_csn = int(to)
        else:
            to_csn = max((c for c, is_ck, _ in names if not is_ck), default=0)
        if from_csn > to_csn:
            raise ValueError(f"fromCsn {from_csn} > toCsn {to_csn}")
        # completeness guard (the engine's complete-fold-or-loud-error
        # contract): a vacuum-reclaimed commit inside the requested window
        # would otherwise just be ABSENT from the feed — the consumer sees
        # a silently incomplete ledger, the unsafe direction for CDC
        missing = reclaimed_csns(names, from_csn, to_csn)
        if missing:
            raise RuntimeError(
                f"changes({from_csn}, {to_csn}): commits "
                f"{missing[:10]} were vacuum-reclaimed inside the "
                "window; the batch change feed cannot be complete"
            )
        self._window = ({"csn": from_csn}, {"csn": to_csn})

    def partitions(self):
        parts = self._delegate.partitions(*self._window)
        # an empty batch window still needs ONE partition: Spark's batch
        # DataSource path calls read(None) when the list is empty
        return parts or [CDCPartition(dir="", csn=0, kind="_empty")]

    def read(self, partition):
        if partition is None or partition.kind == "_empty":
            return iter(())
        return self._delegate.read(partition)
