"""VersionedTable — ACID, MVCC-snapshot table on Parquet + a JSON commit log.

Reference-parity map (citations into /root/reference):
- begin/commit/rollback        <- src/system/instance.rs:88-122 (tsn/csn alloc,
  WAL commit record, flush-on-commit). Here: commit publishes a manifest by
  atomic hard-link into _commitlog/ — the link either exists or it doesn't,
  which is the flush+publish of latest_commit_csn (system/instance.rs:212-219).
- snapshot visibility          <- src/storage/block_driver.rs:457-486
  (entry.csn <= reader.csn, else walk prev-version chain). Here: rows carry
  (_csn, _opseq); 'walk the chain' becomes keep newest version per key with
  _csn <= S, folded one bucket at a time.
- tombstone delete             <- src/system/instance.rs:191-210 (deleted flag
  on entries). Here: _deleted=true rows that win the window hide the key.
- optimistic conflict check    <- src/tran_mgr/tran_mgr.rs:85-127 replaces
  pessimistic object locks: at commit, the keys in the txn's op files are
  compared against those of the commits published since txn start
  (documented divergence, SURVEY.md §7.3).
- crash recovery               <- src/system/instance.rs:221-304 (restore
  checkpoint + redo log + rollback open txns). Here recovery is a *property*:
  state is the fold of published manifests; staged-but-unpublished files are
  invisible, a torn tmp manifest is ignored.
- checkpoint/compaction/vacuum <- src/system/checkpointer.rs + version
  reclamation (src/storage/version_store.rs:14-17, 264-309): materialize the
  resolved snapshot at csn C into compact files; reclaim older versions.

Scale design: one layout, one writer. Data files are immutable parquet under
data/tsn=<n>/opseq=<k>/bucket=<crc32(key)%B>/ and checkpoints under
data/checkpoint-<csn>/bucket=<b>/ — every table is key-hash bucketed
(num_buckets >= 1). `write_bucket_file` writes every data file, as a
`_tmp-` file renamed into place (readers skip `_`-prefixed files).
`stage_part` writes one part of an op: it splits the rows by
`bucket_ids` (the per-key `bucket_of_py`, computed for all rows at once)
through `write_bucketed`. A commit casts each op to the
table's types (`physical_rows`) and stages it in-process when its rows are
already on the driver — a pyarrow Table op (delete_keys lists, object
chunks), or a frame whose plan is a LocalRelation (pandas/Arrow frames),
which the driver JVM converts to Arrow when the op is added (`local_arrow`),
with no Spark job at any row count — as the reference's commit writes
in-process (system/instance.rs:141-187); any other frame stages in one
shuffle-free mapInArrow job over its own partitions;
the versioned DataSource's batch and stream writers call `stage_part` on
the executors. A driver publishing task-written files first deletes those
no successful task reported (`keep_reported`). Every writer claims its csn
through `claim_csn`. A manifest names its ops, not its keys: a commit's
write-set is `op_write_set` of its ops, read from their files only when a
conflict check or `merge_from` needs it. The commit-log protocol
(name-only log listing, op-list resolution from the newest checkpoint,
group visibility, the reclaimed-history guard, the conflict-checked claim)
exists once, as the module-level functions below, for VersionedTable,
Transaction and the DataSource's readers and writers alike.
Snapshot reads and checkpoints pin their csn and op list on the driver
and run one mapInArrow job (`_fold_job`) of min(num_buckets,
defaultParallelism) tasks — one Python task per core, never more tasks
than buckets. Each task owns a group of buckets, lists ONLY those buckets'
files and resolves "newest visible version per key" one bucket at a time
with the versioned reader's pyarrow fold — zero shuffle, the Spark analog
of the reference's O(versions-of-that-object) chain walk
(block_driver.rs:461-486). A snapshot task yields the folds; a checkpoint
task writes each non-empty bucket's winners as one file and the driver
publishes the manifest, so later reads fold only the (checkpoint, S]
deltas above it. Point reads (`lookup()` and the ObjectStore reads) run
the same fold for the key's one bucket in the driver process and schedule
no Spark job. The version-chain view,
`history()`, runs the same job with the reader's unresolved read
(`versions`) as its task; the change feed, `changes()`, runs it over its
pinned window's op bucket dirs with the CDC stream reader's `read`, at
most one task per core. `Transaction.read()` layers a transaction's
buffered ops over `snapshot(start_csn)`, and `Transaction.lookup_table()`
its Table ops over the key's driver fold with the fold's own
newest-version step, so the fold is the one visibility rule across
commits.
"""

from __future__ import annotations

import datetime
import functools
import json
import operator
import os
import shutil
import threading
import time
import uuid
import zlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from db_core_spark.config import DEFAULT_CONFIG, EngineConfig
from db_core_spark.operators.litframe import literal_frame

META_COLS = ("_csn", "_opseq", "_deleted")
META_SCHEMA_FIELDS = [
    T.StructField("_csn", T.LongType()),
    T.StructField("_opseq", T.LongType()),
    T.StructField("_deleted", T.BooleanType()),
]

DEFAULT_NUM_BUCKETS = DEFAULT_CONFIG.num_buckets  # sized so a bucket is ~10-50 GB at scale


class ConflictError(Exception):
    """Optimistic write-write conflict: another transaction committed an
    overlapping write-set after this transaction began. Retry the txn."""


class ConflictTimeoutError(ConflictError):
    """run_transaction's deadline passed without a conflict-free commit —
    the typed analog of the reference's bounded lock wait reporting failure
    (`wait_for` returning false, /root/reference/src/tran_mgr/
    tran_mgr.rs:108-127). Subclasses ConflictError so existing retry-aware
    callers keep working."""


class SnapshotUnavailableError(Exception):
    """The requested as-of snapshot needs commit history that vacuum has
    reclaimed (reference: a reader older than the version-store retention
    window, version_store.rs:264-309). Raised instead of silently returning
    a partial fold."""


def _bucket_canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        # fraction trimmed of trailing zeros, and omitted at .000000
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += "." + f"{v.microsecond:06d}".rstrip("0")
        return s
    return str(v)


def bucket_of_py(values, num_buckets: int) -> int:
    """Bucket id of one key: zlib.crc32 of the canonical key string (each
    value as Spark casts it to string, NULL -> 'None', joined with NUL)
    mod B. crc32 so the id is stable across processes and releases. Every
    file on disk was placed by this function or by bucket_ids, its
    vectorised form for a whole table; a golden test pins their ids
    across ints, strings, NULLs, booleans and timestamps, and an
    agreement test holds bucket_ids to this function
    (tests/test_scale_patterns.py), so existing tables keep their
    placement."""
    return _crc_bucket(map(_bucket_canon, values), num_buckets)


def _crc_bucket(canon_values, num_buckets: int) -> int:
    return zlib.crc32("\x00".join(canon_values).encode("utf-8")) % num_buckets


def _column_encoder(arrow_type, canon):
    """``canon`` for the values of one arrow column, or plain ``str`` where
    the two agree (every type but booleans and timestamps), so a
    column-at-a-time encode of a large op skips the per-value call."""
    import pyarrow as pa

    if pa.types.is_boolean(arrow_type) or pa.types.is_timestamp(arrow_type):
        return canon
    return str


def physical_arrow_schema(data_schema: T.StructType):
    """Arrow schema of an op data file: the data columns, _deleted, _opseq
    (_csn stays virtual until a manifest assigns it)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        T.StructType(
            list(data_schema.fields)
            + [
                T.StructField("_deleted", T.BooleanType()),
                T.StructField("_opseq", T.LongType()),
            ]
        )
    )


def check_num_buckets(num_buckets: int) -> None:
    """Every table has the one key-hash bucketed layout: refuse a bucket
    count below 1 (the unbucketed layout, num_buckets=0, is gone)."""
    if num_buckets < 1:
        raise ValueError(
            f"num_buckets={num_buckets}: every table uses the key-hash "
            "bucket=<b>/ layout, which needs num_buckets >= 1 (the "
            "unbucketed layout is not supported)"
        )


def table_meta(path: str) -> dict:
    """The table's _meta.json, refused (ValueError) when it names no
    bucketed layout — a missing num_buckets means an unbucketed table."""
    with open(os.path.join(path, "_meta.json")) as fh:
        meta = json.load(fh)
    check_num_buckets(meta.get("num_buckets", 0))
    return meta


def bucket_ids(tbl, bucket_cols: list[str], num_buckets: int):
    """bucket_of_py of every row of pyarrow table ``tbl``, as an int32
    array, with no per-row Python for short keys: each key column's
    canonical strings are built in Arrow (`_canon_strings`), NUL-joined,
    and hashed by `_crc32_rows`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    strs = [_canon_strings(tbl.column(c)) for c in bucket_cols]
    keys = strs[0] if len(strs) == 1 else pc.binary_join_element_wise(
        *strs, pa.scalar("\x00", pa.large_string())
    )
    return pa.array((_crc32_rows(keys) % num_buckets).astype("int32"))


def _canon_strings(col):
    """The _bucket_canon strings of one arrow column as a large_string
    array: string columns as they are and integer columns cast in Arrow
    (both agree with ``str``), every other type through _column_encoder;
    NULL becomes 'None'."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_integer(t):
        return pc.fill_null(pc.cast(col, pa.large_string()), "None").combine_chunks()
    enc = _column_encoder(t, _bucket_canon)
    return pa.array(map(enc, col.to_pylist()), pa.large_string())


@functools.cache
def _crc_table():
    """The 256-entry table of the reflected CRC-32 zlib.crc32 computes."""
    import numpy as np

    c = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        c = np.where(c & 1, (c >> 1) ^ np.uint32(0xEDB88320), c >> 1)
    return c


def _crc32_rows(arr):
    """zlib.crc32 of the utf-8 bytes of every value of large_string array
    ``arr``, as a uint32 numpy array. Byte position i of every row still
    longer than i is hashed in one numpy step (rows sorted by length, so
    the live rows are a prefix), up to 64 positions: past them zlib is
    faster per byte. A row left over — a longer key, or one of the few
    still live once a step would cost more than their zlib calls —
    finishes with ``zlib.crc32(rest, running)``, so a long key costs what
    zlib costs."""
    import numpy as np

    n = len(arr)
    _, obuf, dbuf = arr.buffers()
    offsets = np.frombuffer(obuf, dtype=np.int64, count=n + 1, offset=arr.offset * 8)
    data = np.frombuffer(dbuf or b"", dtype=np.uint8)  # no buffer when every key is ""
    lengths = np.diff(offsets)
    order = np.argsort(-lengths, kind="stable")
    pos, lens = offsets[:-1][order], lengths[order]
    crc = np.full(n, 0xFFFFFFFF, dtype=np.uint32)
    table = _crc_table()
    byte, idx = np.empty(n, np.uint8), np.empty(n, np.uint32)
    steps = min(int(lens[0]), 64) if n else 0
    i = 0
    while i < steps:
        while lens[n - 1] <= i:
            n -= 1
        # a numpy step costs about what 8 zlib calls do
        if n <= 8 * (steps - i):
            break
        c = crc[:n]
        np.take(data, pos[:n], out=byte[:n])
        np.bitwise_and(np.bitwise_xor(c, byte[:n], out=idx[:n]), 0xFF, out=idx[:n])
        np.bitwise_xor(np.right_shift(c, 8, out=c), np.take(table, idx[:n]), out=c)
        pos[:n] += 1
        i += 1
    crc ^= np.uint32(0xFFFFFFFF)
    for j in range(n):
        if lens[j] > i:
            start = int(pos[j])
            crc[j] = zlib.crc32(data[start:start + int(lens[j]) - i], int(crc[j]))
    out = np.empty_like(crc)
    out[order] = crc
    return out


def write_bucket_file(tbl, out_dir: str, bucket: int, name: str) -> str:
    """Write pyarrow table ``tbl`` as the parquet file ``name`` under
    ``out_dir/bucket=<bucket>/`` and return its path relative to
    ``out_dir`` — the one writer of every pyarrow data file (op parts and
    checkpoints). No ARROW:schema footer (store_schema=False, ~440 B a
    file): every reader casts a file to the table schema. A column is
    dictionary-encoded only when its first 4096 rows hold at most one
    distinct value per two rows — the JVM parquet writer's first-page
    choice; a dictionary over unique keys adds ~2 B of indices a row.
    The file is written as ``_tmp-<name>`` and renamed into place: every
    reader skips ``_``-prefixed files, so a task killed mid-write leaves no
    torn file in view (keep_reported deletes the leftover)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    head = tbl.slice(0, 4096)
    dict_cols = [
        f.name for f in tbl.schema
        if not pa.types.is_nested(f.type)
        and 2 * pc.count_distinct(head[f.name]).as_py() <= head.num_rows
    ]
    bucket_dir = os.path.join(out_dir, f"bucket={bucket}")
    os.makedirs(bucket_dir, exist_ok=True)
    tmp = os.path.join(bucket_dir, f"_tmp-{name}")
    pq.write_table(tbl, tmp, store_schema=False, use_dictionary=dict_cols)
    os.rename(tmp, os.path.join(bucket_dir, name))
    return os.path.join(f"bucket={bucket}", name)


def write_bucketed(tbl, out_dir: str, num_buckets: int, bucket_cols: list[str]) -> list[str]:
    """The pyarrow writer of an op's data files: split the physical rows
    (data columns, _deleted, _opseq) of pyarrow table ``tbl`` by
    bucket_ids and write ONE parquet file per non-empty bucket=<b>/
    subdir of ``out_dir``. Returns the written paths relative to
    ``out_dir``; empty when ``tbl`` has no rows. Called through
    stage_part by every op writer."""
    import pyarrow.compute as pc

    part = f"part-{uuid.uuid4().hex}.parquet"
    buckets = bucket_ids(tbl, bucket_cols, num_buckets)
    return [
        write_bucket_file(tbl.filter(pc.equal(buckets, b)), out_dir, b, part)
        for b in sorted(pc.unique(buckets).to_pylist())
    ]


def _partition_ids(batches):
    """The reader partition indices a fold job's task was handed."""
    for batch in batches:
        yield from batch.column(0).to_pylist()


def _read_task(reader, parts: list, batches):
    """The snapshot and change-feed jobs' mapInArrow function: stream
    ``reader.read`` of each partition the task was handed."""
    for i in _partition_ids(batches):
        yield from reader.read(parts[i])


def _history_task(reader, parts: list, batches):
    """history()'s mapInArrow function: every version its reader partitions
    hold (`versions`), one bucket at a time, from the op list pinned when
    history() was called. `live_ops` replacing that list (a pinned op dir
    is gone) raises instead of reading the re-resolved list, which a newer
    checkpoint made shorter."""
    import dataclasses

    pinned = reader.ops
    for i in _partition_ids(batches):
        for b in parts[i].buckets:
            tbl = reader.versions(dataclasses.replace(parts[i], buckets=(b,)))
            if reader.ops is not pinned:
                raise SnapshotUnavailableError(
                    f"history at csn {reader.csn}: an op dir it pinned was "
                    "reclaimed since history() was called"
                )
            yield from tbl.to_batches()


def _checkpoint_task(out_dir: str, reader, parts: list, batches):
    """The checkpoint job's mapInArrow function: fold its reader partitions
    one bucket at a time and write each non-empty bucket's winners as one
    file (write_bucket_file); yields the written paths relative to
    ``out_dir``."""
    import pyarrow as pa

    name = f"part-{uuid.uuid4().hex}.parquet"
    for i in _partition_ids(batches):
        paths = [
            write_bucket_file(tbl, out_dir, b, name)
            for b, tbl in reader.bucket_folds(parts[i])
            if tbl.num_rows
        ]
        yield pa.RecordBatch.from_pydict({"path": pa.array(paths, pa.string())})


def _stage_task(data_schema, names, deleted, opseq, out_dir, num_buckets, bucket_cols,
                batches):
    """Transaction._stage's mapInArrow function for an op frame that is not
    on the driver: the task's rows, cast to the table's types, staged as
    one part (stage_part); yields one row of its relative paths."""
    import pyarrow as pa

    batches = list(batches)
    paths = []
    if batches:
        tbl = physical_rows(pa.Table.from_batches(batches), data_schema, names, deleted, opseq)
        paths = stage_part(tbl, out_dir, num_buckets, bucket_cols)
    yield pa.RecordBatch.from_pydict(
        {"paths": [paths]}, schema=pa.schema([("paths", pa.list_(pa.string()))])
    )


def key_string(v) -> str | None:
    """Canonical in-memory write-set value of one key value: ``str()`` of
    the python value, with a tz-aware timestamp first converted to naive
    UTC, and None for NULL (so a NULL key is not the string 'None'). A
    write-set is never stored: the conflict check and merge_from encode
    the keys they compare through this, from op files (op_write_set) or
    from ``DataFrame.toArrow()``, so a key encodes the same whether its
    value reads naive or tz-aware."""
    if v is None:
        return None
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def write_set_keys(tbl, key_cols: list[str]) -> set[tuple]:
    """The key_string write-set of a pyarrow table or record batch."""
    cols = []
    for c in key_cols:
        col = tbl.column(c)
        enc = key_string if col.null_count else _column_encoder(col.type, key_string)
        cols.append(map(enc, col.to_pylist()))
    return set(zip(*cols))


#: rows above which a commit's write-set is untracked: it conflicts with
#: any concurrent commit (bounded driver memory, the safe direction);
#: applied only through op_write_set
MAX_TRACKED_KEYS = 100_000


def op_write_set(ops: list[dict], key_cols: list[str]) -> set[tuple] | None:
    """The key_string write-set of a commit's ops, read from their data
    files — the rows that were staged, so the set is exact even if an op's
    source plan was nondeterministic. The rows are first counted from the
    parquet footers, and only the key columns are read, when that count is
    at most MAX_TRACKED_KEYS; above it the set is None (untracked). pyarrow's
    discovery skips ``_``-prefixed paths, so an op's ``_preimg/`` rows and
    ``_tmp-`` files are not part of it. A missing op dir raises
    FileNotFoundError."""
    import pyarrow.dataset as pads

    parts = [pads.dataset(op["dir"], format="parquet") for op in ops]
    if sum(p.count_rows() for p in parts) > MAX_TRACKED_KEYS:
        return None
    keys: set[tuple] = set()
    for p in parts:
        if p.files:
            keys |= write_set_keys(p.to_table(columns=key_cols), key_cols)
    return keys


def physical_rows(tbl, data_schema: T.StructType, names: list, deleted: bool, opseq: int):
    """An op's physical rows (data columns, _deleted, _opseq) from pyarrow
    table ``tbl``, whose columns are the op's columns ``names`` in order
    (all data columns of an upsert, the key columns of a delete). Every
    column is cast to the table's type, so every file has the table's
    types; the columns a delete lacks are null, and nullable in its file
    even where the table declares them NOT NULL (a required parquet column
    holding nulls is unreadable)."""
    import pyarrow as pa

    physical = physical_arrow_schema(data_schema)
    n = tbl.num_rows
    cols = dict(zip(names, tbl.columns))
    fields = [f if f.name in cols else f.with_nullable(True) for f in physical]
    return pa.Table.from_arrays(
        [
            cols[f.name].cast(f.type) if f.name in cols else pa.nulls(n, f.type)
            for f in fields[:-2]
        ]
        + [pa.repeat(pa.scalar(deleted), n), pa.repeat(pa.scalar(opseq, pa.int64()), n)],
        schema=pa.schema(fields),
    )


def stage_part(tbl, out_dir: str, num_buckets: int, bucket_cols: list) -> list[str]:
    """Stage one part of an op: write the physical rows of pyarrow table
    ``tbl`` through write_bucketed and return the relative paths. Every op
    writer calls it: Transaction._stage in the driver or in a mapInArrow
    task, and the DataSource's batch and stream writers."""
    return write_bucketed(tbl, out_dir, num_buckets, bucket_cols)


def keep_reported(out_dir: str, rel_paths) -> None:
    """Delete every file under ``out_dir`` that no successful task reported
    (a failed or killed attempt's files, its ``_tmp-`` files included) and
    every directory left empty below ``out_dir`` — what Spark's file
    committer guaranteed. The driver calls it before it publishes."""
    keep = {os.path.normpath(p) for p in rel_paths}
    for root, _dirs, files in os.walk(out_dir, topdown=False):
        for f in files:
            full = os.path.join(root, f)
            if os.path.relpath(full, out_dir) not in keep:
                os.remove(full)
        if root != out_dir and not os.listdir(root):
            os.rmdir(root)


def publish_manifest(log_dir: str, name: str, manifest: dict) -> bool:
    """Atomically publish a manifest: write tmp, hard-link to final name.
    link(2) fails with EEXIST if another writer claimed it — the lock-free
    csn allocation (mirrors the CAS publish of latest_commit_csn,
    system/instance.rs:212-219). On object stores this becomes a conditional put."""
    tmp = os.path.join(log_dir, f"_tmp-{uuid.uuid4().hex}.json")
    # json.dumps runs the C encoder; json.dump streams through the pure
    # Python one
    payload = json.dumps(manifest)
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(log_dir, name)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def resolve_group_status(
    group: dict, manifest_ts: float, grace: float, wait: bool = True
) -> str:
    """Resolve a group-commit marker to 'committed' or 'aborted' — the
    visibility decision point for multi-table transactions.

    Protocol (see plans/group.py): per-table manifests carrying a `group`
    field are invisible until `<group.dir>/<group.id>.json` exists; that
    marker is published by atomic hard-link, first writer wins, and is
    immutable afterwards — so once decided, every reader (and every future
    as-of read) sees the same answer forever.

    A still-undecided marker means the coordinator is between its per-table
    claims and the marker publish — or died there. With ``wait=True``
    (reads, CDC, conflict checks) we poll until the manifest is `grace`
    seconds old, then force-abort by publishing the marker ourselves (the
    optimistic analog of the reference's lock wait timeout,
    tran_mgr.rs:108-127: a reader never blocks forever on a dead writer).
    If the coordinator wins the link race at the last moment, its
    'committed' stands and we honor it.

    ``wait=False`` is the non-blocking peek for callers that can act on
    indecision itself (snapshot-pin validation retries the pin): within the
    grace window an undecided marker returns ``'pending'`` immediately and
    the healthy in-flight group is left untouched; past the window it
    force-aborts exactly like the waiting form."""
    path = os.path.join(group["dir"], f"{group['id']}.json")
    deadline = manifest_ts + grace
    while True:
        try:
            with open(path) as f:
                return json.load(f)["status"]
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        if time.time() >= deadline:
            publish_manifest(
                group["dir"], f"{group['id']}.json",
                {"status": "aborted", "ts": time.time(), "by": "reader-timeout"},
            )
            # read back: the publish may have lost the race to the
            # coordinator's 'committed' — whichever linked first is truth
            with open(path) as f:
                return json.load(f)["status"]
        if not wait:
            return "pending"
        time.sleep(0.05)


# ------------------------------------------------------------- commit log
#
# The commit-log protocol, once: VersionedTable, Transaction and the
# versioned DataSource's readers and writers all call these Spark-free
# functions. Manifest NAMES encode the csn ({csn:010d}.json /
# checkpoint-{csn:010d}.json), so sequence queries (latest csn, contiguity
# guards, fold planning) parse names only; manifest JSONs are opened just
# for the commits a caller folds or checks — O(commits since checkpoint),
# not O(all commits) (VERDICT r1 item #9). checkpoint() also publishes a
# Delta-style _last_checkpoint pointer: on an object store, where LIST
# itself is the expensive call, readers start the listing at the pointer.
# Functions that open manifests take an optional ``read(name)``, so a
# VersionedTable routes every open through its own _read_manifest.

_LOG = "_commitlog"

# protocol fields a caller's ``extra`` manifest fields may not overwrite
_RESERVED_FIELDS = frozenset({"csn", "tsn", "ops", "ts", "type", "dir", "group"})


def log_names(path: str) -> list[tuple[int, bool, str]]:
    """(csn, is_checkpoint, filename) for every published manifest of the
    table at ``path``, parsed from names only — no JSON reads."""
    out = []
    for name in os.listdir(os.path.join(path, _LOG)):
        if not name.endswith(".json") or name.startswith("_tmp"):
            continue
        stem = name[:-5]
        try:
            if stem.startswith("checkpoint-"):
                out.append((int(stem.split("-", 1)[1]), True, name))
            elif stem != "_last_checkpoint":
                out.append((int(stem), False, name))
        except ValueError:
            continue
    return sorted(out)


def read_manifest(path: str, name: str) -> dict:
    with open(os.path.join(path, _LOG, name)) as f:
        return json.load(f)


def latest_csn(path: str) -> int:
    return max((csn for csn, _, _ in log_names(path)), default=0)


def group_visible(manifest: dict, grace: float) -> bool:
    """Multi-table commit visibility: a manifest carrying a `group` field
    counts only if its group marker resolved to committed (pending groups
    are force-resolved after ``grace`` seconds, resolve_group_status). An
    aborted group's manifest stays in the log as a hole-filling empty
    commit, so csn contiguity holds."""
    if manifest.get("group") is None:
        return True
    return (
        resolve_group_status(manifest["group"], manifest.get("ts", 0.0), grace)
        == "committed"
    )


def reclaimed_csns(names: list, lo: int, hi: int) -> list[int]:
    """Commit csns in (lo, hi] with no manifest left. csns are contiguous
    integers, so a gap proves vacuum reclaimed history the caller needs;
    each caller raises its own error rather than folding or checking a
    partial window."""
    present = {c for c, is_ck, _ in names if not is_ck}
    return sorted(set(range(lo + 1, hi + 1)) - present)


def visible_manifests(path: str, names: list, lo: int, hi: int, grace: float, read=None):
    """The group-visible commit manifests in (lo, hi], in csn order; only
    manifests inside the window are opened."""
    read = read or (lambda name: read_manifest(path, name))
    for csn, is_ck, name in names:
        if is_ck or not lo < csn <= hi:
            continue
        m = read(name)
        if group_visible(m, grace):
            yield m


def committed_ops(path: str, as_of: int | None, grace: float, read=None) -> list[dict]:
    """(dir, csn, opseq, kind, checkpoint, buckets) for every committed op
    visible at as_of, starting from the newest checkpoint <= as_of (if any).

    Completeness guard: a csn gap between the fold base and the target
    csn raises SnapshotUnavailableError, never a silent partial fold
    (ADVICE r1: pre-vacuum readers must fail loudly).

    IO bound: name-only planning; opens exactly 1 checkpoint manifest +
    the delta manifests above it — O(commits since checkpoint)."""
    read = read or (lambda name: read_manifest(path, name))
    names = log_names(path)
    overall_max = max((c for c, _, _ in names), default=0)
    hi = min(as_of, overall_max) if as_of is not None else overall_max
    ckpt = max((e for e in names if e[1] and e[0] <= hi), default=None)
    lo = ckpt[0] if ckpt is not None else 0
    missing = reclaimed_csns(names, lo, hi)
    if missing:
        raise SnapshotUnavailableError(
            f"snapshot as_of={as_of} needs vacuum-reclaimed commits {missing} "
            f"(retention window passed); oldest available fold base is csn {lo}"
        )
    ops = []
    if ckpt is not None:
        base = read(ckpt[2])
        ops.append(
            {"dir": base["dir"], "csn": -1, "opseq": -1, "kind": "checkpoint",
             "checkpoint": True, "buckets": base.get("buckets", 0)}
        )
    for m in visible_manifests(path, names, lo, hi, grace, read):
        for op in m["ops"]:
            ops.append(
                {"dir": op["dir"], "csn": m["csn"], "opseq": op["opseq"],
                 "kind": op["kind"], "checkpoint": False,
                 "buckets": op.get("buckets", 0)}
            )
    return ops


def check_conflicts(
    path: str,
    start_csn: int,
    upto: int,
    ops: list[dict],
    grace: float,
    who: str,
    *,
    names: list | None = None,
    read=None,
    own_writer: str | None = None,
) -> None:
    """Optimistic conflict check of the commit of ``ops`` against every
    commit in (start_csn, upto): ConflictError when a visible concurrent
    commit's write-set overlaps this one's, or either side is untracked.
    Both write-sets are op_write_set of the commits' ops, read only when
    the window holds a visible concurrent commit; a concurrent op dir that
    is gone raises, since isolation cannot be verified without it. A
    commit whose group is still pending is resolved first (bounded wait +
    force-abort), so the check is never one-eyed. ``own_writer`` skips the
    manifests a stream writer published itself. ``who`` prefixes the
    error messages."""
    names = log_names(path) if names is None else names
    # completeness: a vacuum-reclaimed commit inside the window would make
    # lost-update detection silently one-eyed -> abort loudly (ADVICE r1:
    # open txn spanning a checkpoint+vacuum)
    missing = reclaimed_csns(names, start_csn, upto - 1)
    if missing:
        raise ConflictError(
            f"{who}: conflict window (start_csn={start_csn}, {upto}) includes "
            f"vacuum-reclaimed commits {missing}; cannot verify write-set "
            "isolation — retry on a fresh snapshot"
        )
    concurrent = [
        m for m in visible_manifests(path, names, start_csn, upto - 1, grace, read)
        if own_writer is None or m.get("writer") != own_writer
    ]
    if not concurrent:
        return
    key_cols = table_meta(path)["key_cols"]
    mine = op_write_set(ops, key_cols)
    for m in concurrent:
        try:
            theirs = op_write_set(m["ops"], key_cols)
        except FileNotFoundError as exc:
            raise ConflictError(
                f"{who}: an op dir of concurrent commit csn={m['csn']} is gone; "
                "cannot verify write-set isolation — retry on a fresh snapshot"
            ) from exc
        if mine is None or theirs is None:
            raise ConflictError(
                f"{who}: concurrent commit csn={m['csn']} with untracked write-set"
            )
        if mine & theirs:
            raise ConflictError(
                f"{who}: write-set overlaps concurrent commit csn={m['csn']}"
            )


def claim_csn(
    path: str,
    start_csn: int,
    tsn: str,
    ops: list[dict],
    grace: float,
    who: str,
    *,
    group: dict | None = None,
    extra: dict | None = None,
    attempts: int = 50,
    read=None,
    own_writer: str | None = None,
    publish=None,
) -> int:
    """Claim the next csn by atomic manifest publish, conflict-checking the
    (start_csn, candidate) window on every attempt (check_conflicts, which
    reads this commit's write-set from ``ops`` only when the window holds
    a concurrent commit); returns the csn. The manifest names the ops,
    not their keys.

    ``extra`` merges LAST into the manifest, so a caller key colliding
    with a protocol field would silently overwrite it (a 'csn' in extra
    corrupts the log's contiguity; an 'ops' breaks every snapshot read).
    Reserved names are rejected loudly instead — namespace custom
    metadata (the stream sink's writer/epoch are fine). ``publish(name,
    manifest)`` defaults to publish_manifest on the table's log."""
    bad = _RESERVED_FIELDS & set(extra or ())
    if bad:
        raise ValueError(
            f"extra manifest keys {sorted(bad)} collide with protocol "
            "fields; rename or namespace them"
        )
    publish = publish or (lambda name, m: publish_manifest(os.path.join(path, _LOG), name, m))
    for _ in range(attempts):
        names = log_names(path)
        candidate = max((c for c, _, _ in names), default=0) + 1
        check_conflicts(
            path, start_csn, candidate, ops, grace, who,
            names=names, read=read, own_writer=own_writer,
        )
        manifest = {
            "csn": candidate,
            "tsn": tsn,
            "ops": ops,
            "ts": time.time(),
            **({"group": group} if group is not None else {}),
            **(extra or {}),
        }
        if publish(f"{candidate:010d}.json", manifest):
            return candidate
        # lost the race for this csn; re-check conflicts vs the winner
    raise RuntimeError("could not claim a csn (too much commit contention)")


def local_arrow(frame: DataFrame):
    """The rows of ``frame`` as a pyarrow Table when they are already on
    the driver, else None, with no Spark job at any row count. The rows
    are on the driver when the frame's analyzed plan is a LocalRelation (a
    pandas or Arrow createDataFrame; no optimizer pass) or its optimized
    plan is (a Project the optimizer folds into one). The driver JVM
    converts the relation's rows to Arrow IPC streams with the confs
    toArrow() reads (records per batch, session time zone, large var
    types) and serves them to this process."""
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _load_from_socket

    qe = frame._jdf.queryExecution()
    plan = qe.analyzed()
    if plan.nodeName() != "LocalRelation":
        plan = qe.optimizedPlan()
        if plan.nodeName() != "LocalRelation":
            return None
    spark = frame.sparkSession
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().conf()
    converters = getattr(jvm.org.apache.spark.sql.execution.arrow, "ArrowConverters$")
    streams = converters.__getattr__("MODULE$").toBatchWithSchemaIterator(
        plan.data().iterator(),
        plan.schema(),
        conf.arrowMaxRecordsPerBatch(),
        -1,  # no byte bound per batch, as toArrow()
        conf.sessionLocalTimeZone(),
        True,  # errorOnDuplicatedFieldNames
        conf.arrowUseLargeVarTypes(),
    )
    port, secret, server = jvm.PythonRDD.serveIterator(streams, "local arrow")
    try:
        # each served frame is one IPC stream (schema, one batch)
        tables = [
            pa.ipc.open_stream(s).read_all()
            for s in _load_from_socket((port, secret), NoOpSerializer())
        ]
    finally:
        server.getResult()  # joins the serving thread; raises its error
    if not tables:
        return to_arrow_schema(frame.schema).empty_table()
    return pa.concat_tables(tables)


@dataclass
class _Op:
    kind: str  # "upsert" | "delete"
    rows: "DataFrame | pyarrow.Table"
    opseq: int


class VersionedTable:
    """MVCC table over parquet + a published-manifest commit log.

    **Vacuum/reader contract** (the guarantee the whole read path is built
    around): a reader pins a snapshot csn once, then every (re-)resolution
    of that snapshot — including a re-collect of a DataFrame planned before
    a concurrent ``vacuum()`` — either folds the COMPLETE set of committed
    ops visible at that csn or raises a loud, typed
    :class:`SnapshotUnavailableError`; it never silently returns a partial
    fold. Enforced at two layers: (1) ``_committed_ops`` verifies the
    checkpoint+tail manifest chain covers the pinned csn contiguously and
    raises if vacuum reclaimed a needed manifest; (2) the scan-side file
    resolution re-resolves the op list at the pinned csn when an op
    directory vanished after pinning (a checkpoint plus vacuum folds the
    same rows from the checkpoint), and raises if a directory that a
    still-published manifest names is missing, instead of treating the
    missing dir as empty. A pinned ``history()`` raises instead of
    re-resolving: a newer checkpoint's op list holds fewer versions.
    ``vacuum(grace)`` therefore only
    reclaims versions strictly older than the newest checkpoint minus the
    grace window — readers within the window are safe, readers beyond it
    fail loudly and re-pin. Mirrors the reference's version-chain
    reclamation barrier (/root/reference/src/storage/block_driver.rs
    chain walk + CSN horizon), re-expressed for immutable-file storage.
    """

    def __init__(self, spark: SparkSession, path: str, config: EngineConfig | None = None):
        self.spark = spark
        self.path = path
        self.config = config or DEFAULT_CONFIG
        self._log_dir = os.path.join(path, _LOG)
        self._data_dir = os.path.join(path, "data")
        meta = table_meta(path)
        self.key_cols: list[str] = meta["key_cols"]
        self.schema: T.StructType = T.StructType.fromJson(meta["schema"])
        self.num_buckets: int = meta["num_buckets"]
        self.bucket_cols: list[str] = meta.get("bucket_cols", self.key_cols)

    # ---------------------------------------------------------------- setup

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        schema: T.StructType,
        num_buckets: int | None = None,
        bucket_cols: list[str] | None = None,
        config: EngineConfig | None = None,
    ) -> "VersionedTable":
        """One-time table creation (mirrors Instance::initialize_datastore,
        system/instance.rs:78-80): writes _meta.json + empty commit log.

        `num_buckets` fixes the physical key-hash layout: every op writes its
        rows under bucket=<crc32(bucket_cols)%B>/ subdirs so readers prune
        file lists per bucket and resolve versions in-partition — the Spark
        analog of the reference's O(versions-of-that-object) chain walk
        (block_driver.rs:461-486) instead of a full-table window shuffle.
        `bucket_cols` may be a PREFIX/subset of key_cols (default: all of
        them) — e.g. byte-stream objects bucket by obj_id only, co-locating
        all chunks + versions of one object. `num_buckets` must be at least
        1: the bucketed layout is the only one."""
        config = config or DEFAULT_CONFIG
        if num_buckets is None:
            num_buckets = config.num_buckets
        check_num_buckets(num_buckets)
        os.makedirs(os.path.join(path, _LOG), exist_ok=False)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        for k in key_cols:
            if k not in schema.fieldNames():
                raise ValueError(f"key column {k!r} not in schema")
        bucket_cols = list(bucket_cols) if bucket_cols is not None else list(key_cols)
        if not set(bucket_cols) <= set(key_cols):
            raise ValueError(f"bucket_cols {bucket_cols} must be a subset of key_cols")
        if "bucket" in schema.fieldNames():
            raise ValueError("column name 'bucket' is reserved for the physical layout")
        with open(os.path.join(path, "_meta.json"), "w") as f:
            json.dump(
                {
                    "key_cols": key_cols,
                    "schema": schema.jsonValue(),
                    "num_buckets": num_buckets,
                    "bucket_cols": bucket_cols,
                    # persisted so OTHER readers (the Python DataSource, which
                    # has no EngineConfig object) resolve pending group
                    # markers with the SAME grace as the owning table — a
                    # shorter default there could force-abort a healthy
                    # in-flight group commit
                    "group_pending_grace_seconds": config.group_pending_grace_seconds,
                },
                f,
            )
        return cls(spark, path, config=config)

    @classmethod
    def open(
        cls, spark: SparkSession, path: str, config: EngineConfig | None = None
    ) -> "VersionedTable":
        """Open existing table. Recovery is implicit: only published
        manifests define state (system/instance.rs:221-304 as a no-op property)."""
        return cls(spark, path, config=config)

    # ------------------------------------------------------------- manifests
    # (the commit-log functions above, bound to this table)

    def _log_names(self) -> list[tuple[int, bool, str]]:
        return log_names(self.path)

    def _read_manifest(self, name: str) -> dict:
        return read_manifest(self.path, name)

    def _manifests(self) -> list[dict]:
        """Full parse of every manifest — maintenance paths only (vacuum,
        streaming epoch scan); the read/commit hot paths open only the
        manifests they fold or check."""
        return [self._read_manifest(name) for _, _, name in self._log_names()]

    def latest_csn(self) -> int:
        return latest_csn(self.path)

    # ---------------------------------------------------------------- writes

    def begin(self, at_csn: int | None = None) -> "Transaction":
        """Allocate a txn and pin its read snapshot (system/instance.rs:88-99).
        `at_csn` pins an explicit (earlier) snapshot instead of latest —
        used by group transactions to hand every member table a mutually
        consistent cut; an older pin only WIDENS the conflict window, so
        it is always safe."""
        # 't' prefix keeps partition-column type inference on tsn= dirs
        # string-typed even when the hex happens to be all digits
        tsn = "t" + uuid.uuid4().hex[:12]
        return Transaction(
            self, tsn=tsn, start_csn=self.latest_csn() if at_csn is None else at_csn
        )

    def run_transaction(
        self,
        build,
        *,
        wait_timeout_ms: int = -1,
        backoff_ms: int = 50,
    ) -> int:
        """Run ``build(txn)`` and commit, retrying from a FRESH snapshot on
        ConflictError until the commit lands or the deadline passes.

        The bounded-wait convenience that closes the last semantic distance
        to the reference's pessimistic object locks (/root/reference/src/
        tran_mgr/tran_mgr.rs:85-127): there, a writer blocks on the holder's
        condvar and `wait_for(tsn, timeout)` reports failure when the
        bounded wait expires. Here the wait is optimistic — each attempt
        re-reads a fresh snapshot (so read-modify-write logic in ``build``
        observes the winner's writes, exactly the reason commit() alone
        cannot retry for you), sleeps ``backoff_ms`` between attempts, and
        a deadline miss raises :class:`ConflictTimeoutError` (the typed
        analog of ``wait_for`` returning false). ``wait_timeout_ms < 0``
        waits indefinitely, mirroring the reference's untimed condvar loop.
        Returns the committed csn. The lost-update test
        (instance.rs:713-759) passes with this helper as the whole retry
        story."""
        import time as _time

        deadline = (
            None if wait_timeout_ms < 0 else _time.monotonic() + wait_timeout_ms / 1000.0
        )
        while True:
            txn = self.begin()
            try:
                build(txn)
                return txn.commit()
            except ConflictError as exc:
                if isinstance(exc, ConflictTimeoutError):
                    raise
                if deadline is not None and _time.monotonic() >= deadline:
                    raise ConflictTimeoutError(
                        f"no conflict-free commit within {wait_timeout_ms} ms"
                    ) from exc
                if backoff_ms > 0:
                    _time.sleep(backoff_ms / 1000.0)

    # ---------------------------------------------------------------- reads

    def _committed_ops(self, as_of: int | None) -> list[dict]:
        """committed_ops for this table: the ops visible at as_of from the
        newest checkpoint up, pending groups resolved with this table's
        configured grace."""
        return committed_ops(
            self.path, as_of, self.config.group_pending_grace_seconds,
            read=self._read_manifest,
        )

    def _read_width(self) -> int:
        """Bucket-group partitions of a snapshot, checkpoint or history read:
        min(num_buckets, defaultParallelism). Every Python task pays a fixed
        worker cost before its fold starts (SCALING.md), so the task count
        follows the cores, never the bucket count or a size estimate."""
        return min(self.num_buckets, self.spark.sparkContext.defaultParallelism)

    def _pinned_reader(self, as_of_csn: int | None, **kw):
        """The versioned reader of this table pinned now: its csn (as_of_csn,
        else the latest) and that csn's op list resolved on the driver, so
        vacuum-reclaimed history raises SnapshotUnavailableError here, and
        planned at `_read_width()` bucket-group partitions."""
        from db_core_spark.sources.versioned_datasource import (  # noqa: PLC0415
            VersionedSnapshotReader,
        )

        latest = self.latest_csn()
        csn = latest if as_of_csn is None else min(as_of_csn, latest)
        return VersionedSnapshotReader(
            self.schema,
            {"path": self.path, "asofcsn": csn, "numpartitions": self._read_width()},
            ops=self._committed_ops(csn), **kw,
        )

    def _fold_job(self, reader, task, schema, parts: list | None = None) -> DataFrame:
        """The one job of a snapshot, checkpoint, history or change feed: a
        mapInArrow over spark.range(len(parts)) (default: the reader's
        partitions) in min(len(parts), defaultParallelism) tasks, each
        running ``task(reader, parts, batches)`` on the partition indices
        it is handed. A mapInArrow job, not an RDD one: it runs in the
        Python workers the commit staging jobs use, where a process's first
        RDD job starts another worker pool (~2 s). An empty pinned op list
        or partition list reads nothing: an empty local frame, no job."""
        if parts is None:
            parts = reader.partitions() if reader.ops else []
        if not parts:
            return literal_frame(self.spark, [], schema)
        width = min(len(parts), self.spark.sparkContext.defaultParallelism)
        return self.spark.range(len(parts), numPartitions=width).mapInArrow(
            functools.partial(task, reader, parts), schema
        )

    def snapshot(self, as_of_csn: int | None = None) -> DataFrame:
        """Snapshot read: newest visible version per key, tombstones dropped
        — the visibility rule of block_driver.rs:457-486.

        The snapshot is pinned when snapshot() is called, as lookup()'s is:
        the csn (as_of_csn, else the latest) and its op list are resolved
        here, so reclaimed history raises SnapshotUnavailableError from
        snapshot() itself, and every action on the DataFrame returns the
        rows of that csn, whatever commits, checkpoints and vacuums come
        after (a vacuumed op list is re-resolved at the same csn, from the
        checkpoint).

        One mapInArrow job (`_fold_job`) of `_read_width()` tasks, each
        folding its group of buckets one bucket at a time with the
        versioned reader's fold — the job checkpoint() runs — with no
        global window shuffle: the per-object chain-walk cost model of the
        reference. The schema is the one _meta.json names, not this
        handle's `self.schema`: another handle's alter_add_column makes
        that stale."""
        reader = self._pinned_reader(as_of_csn)
        return self._fold_job(reader, _read_task, reader.output_schema())

    def lookup(self, key: dict) -> DataFrame:
        """Point/prefix lookup by bucket-column values, answered in-process:
        the key's one bucket is folded on the driver and the rows come back
        as a local relation, so collecting them runs no Spark job
        — the analog of the reference's per-object version-chain walk
        (block_driver.rs:461-486), which schedules nothing either. The
        snapshot is pinned when lookup() is called: the DataFrame keeps
        returning those rows after later commits, checkpoints and vacuums.
        `key` must provide every bucket column; extra key columns narrow the
        row filter further."""
        tbl, schema = self._fold_key(key, None)
        return self.spark.createDataFrame(tbl, schema=schema)

    def lookup_table(self, key: dict, as_of_csn: int | None = None):
        """The rows of `lookup(key)` at `as_of_csn` (default: latest) as a
        driver-side pyarrow Table — what ObjectStore reads take their bytes
        from."""
        return self._fold_key(key, as_of_csn)[0]

    def _fold_key(self, key: dict, as_of_csn: int | None):
        """Pin the op list (vacuum-reclaimed history raises
        SnapshotUnavailableError here) and run the versioned reader's fold
        for the key's one bucket in this process, the key pushed into the
        parquet scan. Returns (pyarrow table, its Spark schema)."""
        missing = [c for c in self.bucket_cols if c not in key]
        if missing:
            raise ValueError(f"lookup needs all bucket columns; missing {missing}")
        reader = self._pinned_reader(as_of_csn, key_equals=key)
        (part,) = reader.partitions()
        return reader.fold(part), reader.output_schema()

    def history(self) -> DataFrame:
        """Every row version visible at the latest csn, unresolved, with
        (_csn, _opseq, _deleted) — the version-store chain view. Pinned when
        history() is called, as snapshot() is, and read by the versioned
        reader's own reads (`versions`) in one `_fold_job`. An op dir of
        the pinned list that is gone later raises: the list is not
        re-resolved, since a newer checkpoint's list holds fewer versions."""
        reader = self._pinned_reader(None)
        return self._fold_job(reader, _history_task, reader.versions_schema())

    def diff(self, from_csn: int, to_csn: int) -> DataFrame:
        """Semantic diff between two snapshots: one row per key whose
        resolved state changed, tagged `_change` in {insert, update, delete},
        with `old_<col>` / `new_<col>` value pairs for every non-key column.

        This is the time-travel answer to "what changed between version A
        and B" — unlike the CDC feed (which replays every intermediate
        commit), the diff compares only the two RESOLVED endpoints, so a key
        written 50 times between A and B shows once. Shape: two bucketed
        snapshot reads (in-partition resolution, zero exchange) + one
        full-outer join on the key — co-partitioned when both sides share
        the table's bucket layout."""
        if not (0 <= from_csn <= to_csn):
            raise ValueError(f"need 0 <= from_csn <= to_csn, got {from_csn}..{to_csn}")
        val_cols = [f.name for f in self.schema.fields if f.name not in self.key_cols]
        a = self.snapshot(as_of_csn=from_csn) if from_csn > 0 else None
        b = self.snapshot(as_of_csn=to_csn)
        if a is None:
            return b.select(
                *self.key_cols,
                F.lit("insert").alias("_change"),
                *[F.lit(None).cast(b.schema[c].dataType).alias(f"old_{c}") for c in val_cols],
                *[F.col(c).alias(f"new_{c}") for c in val_cols],
            )
        an = a.select(
            *self.key_cols, *[F.col(c).alias(f"old_{c}") for c in val_cols]
        ).withColumn("_in_a", F.lit(True))
        bn = b.select(
            *self.key_cols, *[F.col(c).alias(f"new_{c}") for c in val_cols]
        ).withColumn("_in_b", F.lit(True))
        j = an.join(bn, on=self.key_cols, how="full_outer")
        changed = F.lit(False)
        for c in val_cols:
            changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        kind = (
            F.when(F.col("_in_a").isNull(), F.lit("insert"))
            .when(F.col("_in_b").isNull(), F.lit("delete"))
            .when(changed, F.lit("update"))
        )
        return (
            j.withColumn("_change", kind)
            .filter(F.col("_change").isNotNull())
            .select(
                *self.key_cols,
                "_change",
                *[f"old_{c}" for c in val_cols],
                *[f"new_{c}" for c in val_cols],
            )
        )

    def changes(
        self,
        from_csn: int = 0,
        to_csn: int | None = None,
        include_opseq: bool = False,
    ) -> DataFrame:
        """BATCH change feed (Delta's table_changes(from, to) shape): every
        change row committed in (from_csn, to_csn], with (_csn, _change)
        and pre-image retraction rows where the table records them. Use
        `diff()` for the endpoint comparison instead of the full ledger.
        ``include_opseq`` additionally exposes the op's position within its
        transaction as ``_opseq`` — required whenever a consumer resolves
        'latest change per key' (one txn may upsert AND delete the same
        key: both rows share a csn, and only opseq orders them).

        Pinned when called, as snapshot() is: to_csn (default: the latest
        csn) is resolved and the CDC stream reader plans the window here,
        so ``from_csn > to_csn`` and a vacuum-reclaimed window raise from
        changes() itself. One `_fold_job` runs that reader's `read`."""
        from db_core_spark.sources.versioned_datasource import (  # noqa: PLC0415
            VersionedChangeStreamReader,
        )

        reader = VersionedChangeStreamReader(
            None, {"path": self.path, "includeopseq": str(include_opseq).lower()}
        )
        if to_csn is None:
            to_csn = self.latest_csn()
        if from_csn > to_csn:
            raise ValueError(f"changes: from_csn {from_csn} > to_csn {to_csn}")
        parts = reader.partitions({"csn": from_csn}, {"csn": to_csn})
        return self._fold_job(reader, _read_task, reader.feed_schema, parts)

    # ----------------------------------------------------------- maintenance

    def checkpoint(self) -> int:
        """Materialize the resolved snapshot at the current csn into compact
        files and publish a checkpoint manifest (checkpointer.rs protocol:
        begin -> copy -> completed; here a single atomic publish). Readers at
        S >= C start from the checkpoint instead of folding all history."""
        csn = self.latest_csn()
        if csn == 0:
            return 0
        if any(is_ck and c == csn for c, is_ck, _ in self._log_names()):
            # Idempotent: this exact state is already checkpointed. MUST
            # return before touching storage — re-resolving would clear the
            # live checkpoint dir that readers fold as their base.
            return csn
        # the versioned reader's fold, pinned driver-side at csn; each task
        # of the fold job snapshot() runs folds its buckets one at a time
        # and writes each non-empty bucket as one file (_checkpoint_task) —
        # shuffle-free end to end, and the same pyarrow writer as every op
        reader = self._pinned_reader(csn, include_meta=True)
        out_dir = os.path.join(self._data_dir, f"checkpoint-{csn:010d}")
        # made before the job, so a fully tombstoned table gets a file-less
        # fold base that still reads as empty; files of a checkpoint that
        # died before its publish are cleared first
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        written = self._fold_job(
            reader, functools.partial(_checkpoint_task, out_dir), "path string"
        ).collect()
        keep_reported(out_dir, [r.path for r in written])
        manifest = {
            "type": "checkpoint", "csn": csn, "dir": out_dir, "ts": time.time(),
            "buckets": reader.num_buckets,  # the layout _meta.json names
        }
        self._publish(f"checkpoint-{csn:010d}.json", manifest)
        # Delta-style _last_checkpoint pointer (advisory, overwrite-in-place):
        # object-store readers start their LIST at this csn instead of
        # scanning the whole log prefix; local readers get the same bound
        # from name parsing alone. Monotone: only advanced, never required.
        ptr = os.path.join(self._log_dir, "_last_checkpoint")
        tmp = ptr + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"csn": csn, "name": f"checkpoint-{csn:010d}.json"}, f)
        os.replace(tmp, ptr)
        return csn

    def alter_add_column(self, name: str, data_type: T.DataType) -> None:
        """Schema evolution: append a nullable column (the closest analog of
        the reference's schema-less flexibility — clients there reinterpret
        bytes at will; here the schema widens, never breaks). The LATEST
        schema governs every read including as-of time travel
        (Delta-style): rows written before the alter read back with the new
        column null in snapshots and history alike. Existing files are never
        rewritten. Drops/renames are deliberately unsupported — they would
        change the meaning of already-written bytes."""
        if name in self.schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        if name == "bucket" or name in META_COLS:
            raise ValueError(f"column name {name!r} is reserved")
        if name in ("tsn", "opseq"):
            raise ValueError(f"column name {name!r} collides with the physical layout")
        new_schema = T.StructType(
            list(self.schema.fields) + [T.StructField(name, data_type, True)]
        )
        meta_path = os.path.join(self.path, "_meta.json")
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["schema"] = new_schema.jsonValue()
        tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
        self.schema = new_schema

    def restore(self, as_of_csn: int) -> int:
        """RESTORE the table to an earlier snapshot as a NEW commit — the
        append-only analog of the reference's checkpoint restore
        (restore_checkpoint, block_driver.rs:604-621; its test resurrects a
        deleted object, block_driver.rs:1045-1056): rows from the target
        snapshot are re-upserted and keys that exist now but not then are
        tombstoned, so history is preserved (the restore itself is
        time-travelable and conflict-checked like any txn). Requires the
        target snapshot to still be within vacuum retention."""
        old = self.snapshot(as_of_csn)
        cur = self.snapshot()
        kc = self.key_cols
        gone = cur.select(*kc).exceptAll(old.select(*kc))
        txn = self.begin()
        txn.upsert(old)
        txn.delete_keys(gone)
        return txn.commit()

    def rebucket(self, new_num_buckets: int, bucket_cols: list[str] | None = None) -> int:
        """Layout migration: change the bucket count (and optionally the
        bucket columns) of the physical layout, then checkpoint so the new
        layout is materialized. Readers are correct THROUGHOUT the
        migration: ops written under the old bucket count carry their own
        `buckets` field, and the snapshot reader falls back to
        read+row-filter for exactly those ops (mixed-layout tolerance),
        while new writes land under the new layout immediately. Old-layout
        files are reclaimed by the next vacuum once outside retention.
        Returns the checkpoint csn (0 if the table is empty)."""
        check_num_buckets(new_num_buckets)
        bucket_cols = list(bucket_cols) if bucket_cols is not None else self.bucket_cols
        if not set(bucket_cols) <= set(self.key_cols):
            raise ValueError(f"bucket_cols {bucket_cols} must be a subset of key_cols")
        meta_path = os.path.join(self.path, "_meta.json")
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["num_buckets"] = new_num_buckets
        meta["bucket_cols"] = bucket_cols
        tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
        self.num_buckets = new_num_buckets
        self.bucket_cols = bucket_cols
        return self.checkpoint()

    def clone(self, dst_path: str, as_of_csn: int | None = None) -> "VersionedTable":
        """Zero-copy shallow clone at a snapshot: a new independent table at
        ``dst_path`` whose state equals this table's snapshot at
        ``as_of_csn`` (default: latest) — the CREATE TABLE CLONE of
        Delta/Iceberg, re-expressed for the hard-link commit-log layout.

        Mechanics: every data file the snapshot's fold needs (newest
        checkpoint <= csn plus the delta ops above it) is HARD-LINKED into
        the clone's own data directory — no bytes copied, O(files) metadata
        work — and the covered manifests are republished with clone-local
        dirs. Because the clone owns directory entries for shared inodes,
        ``vacuum()`` on either table can delete its dirs without breaking
        the other (unlike Delta's shallow clone, where vacuuming the source
        corrupts clones). On an object store this degrades to a server-side
        copy of the op files — same manifest translation, no data download.

        The clone keeps source csn numbering up to the snapshot (time
        travel below it keeps working, bounded by what the fold base
        covers) and then evolves independently: commits, checkpoints,
        vacuum, even rebucket on one side never touch the other. In-flight
        group commits resolve AT CLONE TIME by the reader rule
        (resolve_group_status): committed groups freeze as plain commits,
        unresolved/aborted ones become hole manifests — exactly what a
        snapshot reader at that csn would have seen forever after.

        Mirrors the reference's checkpoint-as-copy protocol
        (/root/reference/src/system/checkpointer.rs:96-176 copies live
        state to a second root) generalized to a full writable fork."""
        src_csn = self.latest_csn() if as_of_csn is None else as_of_csn
        # validates contiguity: raises SnapshotUnavailableError if vacuum
        # already reclaimed history this snapshot needs
        self._committed_ops(src_csn)

        os.makedirs(os.path.join(dst_path, _LOG), exist_ok=False)
        dst_data = os.path.join(dst_path, "data")
        os.makedirs(dst_data, exist_ok=True)
        dst_log = os.path.join(dst_path, _LOG)

        linked: dict[str, str] = {}

        def translate(src_dir: str) -> str:
            if src_dir not in linked:
                rel = os.path.relpath(src_dir, self._data_dir)
                if rel.startswith(".."):  # defensive: op dir outside data/
                    rel = os.path.basename(src_dir.rstrip("/"))
                dst_dir = os.path.join(dst_data, rel)
                found_any = False
                try:
                    for root, _dirs, files in os.walk(src_dir):
                        found_any = True
                        sub = os.path.relpath(root, src_dir)
                        tgt = dst_dir if sub == "." else os.path.join(dst_dir, sub)
                        os.makedirs(tgt, exist_ok=True)
                        for fn in files:
                            os.link(os.path.join(root, fn), os.path.join(tgt, fn))
                except FileNotFoundError as exc:
                    raise SnapshotUnavailableError(
                        f"clone lost a race with vacuum: op dir {src_dir} vanished "
                        f"mid-link; re-clone at a younger snapshot"
                    ) from exc
                if not found_any:
                    # os.walk silently yields nothing for a missing root —
                    # same mid-vacuum race, same loud failure
                    raise SnapshotUnavailableError(
                        f"clone lost a race with vacuum: op dir {src_dir} is gone; "
                        f"re-clone at a younger snapshot"
                    )
                linked[src_dir] = dst_dir
            return linked[src_dir]

        names = self._log_names()
        in_scope = [e for e in names if e[0] <= src_csn]
        ckpt = max((e for e in in_scope if e[1]), default=None, key=lambda e: e[0])
        lo = ckpt[0] if ckpt is not None else 0
        if ckpt is not None:
            m = dict(self._read_manifest(ckpt[2]))
            m["dir"] = translate(m["dir"])
            publish_manifest(dst_log, ckpt[2], m)
            ptr_tmp = os.path.join(dst_log, f"_last_checkpoint.tmp-{uuid.uuid4().hex}")
            with open(ptr_tmp, "w") as f:
                json.dump({"csn": ckpt[0], "name": ckpt[2]}, f)
            os.replace(ptr_tmp, os.path.join(dst_log, "_last_checkpoint"))
        for csn, is_ck, name in in_scope:
            if is_ck or csn <= lo:
                continue
            m = dict(self._read_manifest(name))
            if m.get("group") is not None:
                if group_visible(m, self.config.group_pending_grace_seconds):
                    m["group"] = None  # frozen: decided markers are immutable
                else:
                    # hole commit: the aborted group's member wrote nothing
                    m = {"csn": csn, "tsn": m.get("tsn"), "ops": [],
                         "ts": m.get("ts", time.time())}
            if m.get("ops"):
                m["ops"] = [dict(op, dir=translate(op["dir"])) for op in m["ops"]]
            publish_manifest(dst_log, name, m)
        # fork provenance: merge_from() defaults its base to this cut
        with open(os.path.join(dst_path, "_fork.json"), "w") as f:
            json.dump({"src_path": self.path, "fork_csn": src_csn}, f)
        # _meta.json is the clone's PUBLISH point and is written LAST, via
        # tmp + atomic replace: open() requires it, so a clone torn by a
        # crash mid-link/mid-manifest refuses to open loudly instead of
        # silently presenting the valid-looking prefix of the commit log as
        # an earlier snapshot (same manifest-last discipline as commit:
        # staged state is invisible until the one atomic publish).
        meta_tmp = os.path.join(dst_path, f"_meta.json.tmp-{uuid.uuid4().hex}")
        shutil.copyfile(os.path.join(self.path, "_meta.json"), meta_tmp)
        os.replace(meta_tmp, os.path.join(dst_path, "_meta.json"))
        return VersionedTable(self.spark, dst_path, config=self.config)

    def merge_from(
        self,
        other: "VersionedTable",
        base_csn: int | None = None,
        on_conflict: str = "error",
    ) -> dict:
        """Three-way branch merge: fold the changes ``other`` (typically a
        clone of this table) made since the common base csn back into this
        table, in ONE atomic transaction — the git-merge workflow for
        data: clone -> experiment on the branch -> merge back.

        Change sets are the write-sets of each side's visible commits since
        the base (op_write_set: the key columns of their op files, no fold
        decides the merge); a side with an untracked write-set raises.
        Keys changed on BOTH sides since the base are conflicts:
        ``on_conflict='error'`` raises ConflictError listing them,
        ``'ours'`` keeps this table's version (applies only their
        non-conflicting changes), ``'theirs'`` lets the branch win.
        Applied state is read from the branch's CHANGE FEED (latest change
        per key, typed end-to-end): a key whose final change is a delete
        is tombstoned here, anything else upserts the branch's final row.
        The apply commits through the normal txn path, so concurrent
        writers are conflict-checked as usual. Returns
        {'applied', 'deleted', 'conflicts'}.

        Reference analog: recovery folds another log's tail onto the
        current state (/root/reference/src/system/instance.rs:221-304) — here the
        other log is a diverged fork and overlap is adjudicated instead
        of replayed blindly."""
        if on_conflict not in ("error", "ours", "theirs"):
            raise ValueError(f"on_conflict must be error|ours|theirs, got {on_conflict!r}")
        if base_csn is None:
            fork_path = os.path.join(other.path, "_fork.json")
            if not os.path.isfile(fork_path):
                raise ValueError(
                    "base_csn not given and the other table has no _fork.json "
                    "(not created by clone()?)"
                )
            with open(fork_path) as f:
                base_csn = int(json.load(f)["fork_csn"])

        def changed(t: "VersionedTable") -> set:
            # completeness guard (the _committed_ops contract: complete fold
            # or loud error, never a silent partial): every delta csn in
            # (base_csn, hi] must still exist — a checkpoint+vacuum that
            # reclaimed mid-window commits would otherwise silently DROP
            # their keys from both the merge set and the conflict check
            names = t._log_names()
            hi = max((c for c, _, _ in names), default=0)
            missing = reclaimed_csns(names, base_csn, hi)
            if missing:
                raise SnapshotUnavailableError(
                    f"merge_from: commits {missing[:10]}... on {t.path} "
                    f"were vacuum-reclaimed inside the merge window "
                    f"(base csn {base_csn}); their write-sets are gone, so a "
                    "key-level merge cannot be computed"
                )
            keys: set = set()
            grace = t.config.group_pending_grace_seconds
            for m in visible_manifests(t.path, names, base_csn, hi, grace, t._read_manifest):
                wk = op_write_set(m["ops"], t.key_cols)
                if wk is None:
                    raise ConflictError(
                        f"merge_from: commit csn={m['csn']} on {t.path} has an "
                        "untracked write-set; cannot compute a key-level merge"
                    )
                keys |= wk
            return keys

        ours, theirs = changed(self), changed(other)
        conflicts = ours & theirs
        if conflicts and on_conflict == "error":
            sample = sorted(conflicts, key=str)[:10]
            raise ConflictError(
                f"merge_from: {len(conflicts)} key(s) changed on both sides "
                f"since csn {base_csn} (e.g. {sample}); pass "
                "on_conflict='ours'|'theirs'"
            )
        apply_keys = theirs if on_conflict == "theirs" else theirs - ours
        if not apply_keys:
            return {"applied": 0, "deleted": 0, "conflicts": len(conflicts)}

        kc = self.key_cols
        # feed kinds are op kinds: 'upsert' / 'delete' (+ retraction rows
        # tagged 'update_preimage' when preimages are enabled — not state)
        feed = other.changes(from_csn=base_csn, include_opseq=True).filter(
            F.col("_change") != "update_preimage"
        )
        # Latest change per key, partitioned on the TYPED key columns (no
        # string encoding involved). The _opseq tiebreak is load-bearing:
        # one txn may upsert AND delete the same key — both rows share a
        # csn, and ordering on csn alone could resurrect the superseded
        # upsert (tested: test_merge_from_upsert_then_delete_same_txn).
        latest_all = (
            feed.withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(*kc).orderBy(
                        F.col("_csn").desc(), F.col("_opseq").desc()
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_opseq")
        )
        # Membership against apply_keys must use the SAME encoding that
        # produced the write-sets — key_string over arrow-materialized values.
        # Spark's cast('string') diverges for booleans ('true' vs 'True')
        # and floats in scientific notation, and a miss here silently
        # DROPS a branch change (the unsafe direction — unlike the conflict
        # check, where a collision is merely a spurious conflict). So:
        # collect the branch's distinct changed keys (bounded by
        # MAX_TRACKED_KEYS — merge already requires tracked write-sets),
        # encode them driver-side like every writer, and join back on the
        # TYPED key values.
        key_schema = latest_all.select(*kc).schema
        arrow_keys = latest_all.select(*kc).toArrow()
        typed_rows = list(zip(*(arrow_keys.column(c).to_pylist() for c in kc)))
        wanted_typed = [
            r for r in typed_rows if tuple(key_string(v) for v in r) in apply_keys
        ]
        if not wanted_typed:
            return {"applied": 0, "deleted": 0, "conflicts": len(conflicts)}
        wanted = literal_frame(self.spark, wanted_typed, key_schema)
        # null-safe, as the fold groups keys: a NULL key is a key
        same_key = functools.reduce(
            operator.and_, [latest_all[c].eqNullSafe(wanted[c]) for c in kc]
        )
        latest = latest_all.join(F.broadcast(wanted), same_key, "left_semi")
        data_cols = [f.name for f in self.schema.fields]
        ups = latest.filter(F.col("_change") != "delete").select(*data_cols)
        dels = latest.filter(F.col("_change") == "delete").select(*kc)
        n_ups, n_dels = ups.count(), dels.count()
        txn = self.begin()
        if n_ups:
            txn.upsert(ups)
        if n_dels:
            txn.delete_keys(dels)
        if n_ups or n_dels:
            txn.commit()
        else:
            txn.rollback()
        return {"applied": n_ups, "deleted": n_dels, "conflicts": len(conflicts)}

    def stats(self) -> dict:
        """Operational table statistics — the input every maintenance
        decision (checkpoint now? vacuum? rebucket?) reads: current csn,
        commit/checkpoint counts, deltas above the fold base, live file
        count/bytes for the CURRENT snapshot's fold set, and per-bucket
        file-count balance (a skewed bucket histogram says the bucket_cols
        choice is wrong before any query slows down). Mirrors the
        reference's checkpointer threshold probe
        (/root/reference/src/system/checkpointer.rs:86-94) widened to a
        DESCRIBE-DETAIL-style report. Pure metadata: one name listing +
        os.walk over the fold set's dirs; no Spark job."""
        names = self._log_names()
        csn = max((c for c, _, _ in names), default=0)
        ops = self._committed_ops(None) if csn else []
        n_files = 0
        total_bytes = 0
        per_bucket: dict[int, int] = {}
        for op in ops:
            for root, dirs, files in os.walk(op["dir"]):
                # _preimg/ (CDC before-images) is not in the fold set
                dirs[:] = [d for d in dirs if not d.startswith("_")]
                bucket = None
                base = os.path.basename(root)
                if base.startswith("bucket="):
                    try:
                        bucket = int(base.split("=", 1)[1])
                    except ValueError:
                        bucket = None
                for fn in files:
                    if fn.startswith(("_", ".")):
                        continue
                    n_files += 1
                    try:
                        total_bytes += os.path.getsize(os.path.join(root, fn))
                    except OSError:
                        pass
                    if bucket is not None:
                        per_bucket[bucket] = per_bucket.get(bucket, 0) + 1
        return {
            "csn": csn,
            "n_commits": sum(1 for _, is_ck, _ in names if not is_ck),
            "n_checkpoints": sum(1 for _, is_ck, _ in names if is_ck),
            "deltas_since_checkpoint": self.deltas_since_checkpoint(),
            "num_buckets": self.num_buckets,
            "n_live_files": n_files,
            "live_bytes": total_bytes,
            "files_per_bucket": dict(sorted(per_bucket.items())),
        }

    def deltas_since_checkpoint(self) -> int:
        """Commits above the newest checkpoint — name-parse only, no JSON."""
        names = self._log_names()
        floor = max((c for c, is_ck, _ in names if is_ck), default=0)
        return sum(1 for c, is_ck, _ in names if not is_ck and c > floor)

    def maybe_checkpoint(self) -> int:
        """Threshold-triggered checkpoint (the reference checkpointer's
        wake-on-threshold protocol, src/system/checkpointer.rs:86-94, with
        config.checkpoint_every_commits as the group-commit analog of
        checkpoint_data_threshold): materializes only when enough commits
        accumulated since the last checkpoint, so callers — e.g. a streaming
        foreachBatch sink — can invoke it after every commit and pay only a
        name listing most of the time. Returns the checkpoint csn, or 0 if
        below threshold."""
        if self.deltas_since_checkpoint() < self.config.checkpoint_every_commits:
            return 0
        return self.checkpoint()

    def expire_rows(self, condition: str) -> int:
        """Row-level TTL / retention: tombstone every CURRENT row matching
        ``condition`` (a SQL expression over the data columns) in ONE
        atomic transaction; returns the number of rows expired. This is
        data-retention policy (drop rows older than X, purge a user's
        records) — distinct from vacuum(), which reclaims version HISTORY.
        The expiry commits through the normal txn path, so it is
        conflict-checked, CDC-visible as deletes (with pre-images when
        enabled), and time-travel before the expiry csn still sees the
        rows until vacuum retires that history."""
        txn = self.begin()
        doomed = txn.read().filter(F.expr(condition)).select(*self.key_cols)
        n = doomed.count()
        if n == 0:
            txn.rollback()
            return 0
        txn.delete_keys(doomed)
        txn.commit()
        return n

    def vacuum(self, retain_seconds: float | None = None, dry_run: bool = False) -> int:
        """Reclaim op files/manifests fully covered by the newest checkpoint
        AND older than the retention window (version_store.rs:264-309
        reclamation; `version_retain_time` default 3600 s, config.rs:162).

        A version inside the window survives even below the checkpoint
        floor, so any as-of read younger than `retain_seconds` keeps
        working after vacuum; readers needing reclaimed history get a loud
        SnapshotUnavailableError (see _committed_ops), and an open txn whose
        conflict window extends below the reclaim line aborts with
        ConflictError instead of silently losing lost-update protection.

        ``dry_run=True`` walks the identical decision logic but deletes
        nothing and returns the op-dir count that WOULD be reclaimed — the
        pre-flight every operator runs before an irreversible retention
        change (pairs with :meth:`stats`)."""
        if retain_seconds is None:
            retain_seconds = self.config.version_retain_seconds
        manifests = self._manifests()
        cutoff = time.time() - retain_seconds
        removed = 0
        # Orphan sweep (independent of checkpoints): op dirs no manifest
        # references — a bulk append or stream-sink epoch that crashed
        # between staging/move and publish — plus stale _staging leftovers.
        # Invisible by construction, but they accumulate disk forever.
        # Age-guard by newest mtime, floored at orphan_min_age_seconds
        # INDEPENDENT of retain_seconds: vacuum(retain_seconds=0) is a
        # legitimate history-reclaim call, but an "orphan" younger than the
        # floor may be a concurrent IN-FLIGHT writer's staged-but-unclaimed
        # txn — deleting it would let that writer publish a manifest
        # referencing dead files, breaking every subsequent snapshot read.
        orphan_cutoff = time.time() - max(
            retain_seconds, self.config.orphan_min_age_seconds
        )
        referenced = {
            os.path.abspath(op["dir"]) for m in manifests for op in m.get("ops", [])
        } | {
            os.path.abspath(m["dir"]) for m in manifests if m.get("type") == "checkpoint"
        }

        def _newest_mtime(root: str) -> float:
            newest = os.path.getmtime(root)
            for base, _dirs, files in os.walk(root):
                for f in files:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(base, f)))
                    except OSError:
                        pass
            return newest

        if os.path.isdir(self._data_dir):
            for d in os.listdir(self._data_dir):
                p = os.path.join(self._data_dir, d)
                if d == "_staging" and os.path.isdir(p):
                    for sub in os.listdir(p):
                        sp = os.path.join(p, sub)
                        if _newest_mtime(sp) < orphan_cutoff:
                            removed += 1
                            if not dry_run:
                                shutil.rmtree(sp, ignore_errors=True)
                    continue
                if (
                    d.startswith("checkpoint-")
                    and os.path.isdir(p)
                    and os.path.abspath(p) not in referenced
                    and _newest_mtime(p) < orphan_cutoff
                ):
                    # checkpoint dir with no published manifest: a
                    # checkpoint() that died mid-write. Invisible (readers
                    # fold only manifest-referenced checkpoints) but leaks
                    # disk forever without this; the same age floor that
                    # protects in-flight txn staging protects an in-progress
                    # checkpoint write.
                    removed += 1
                    if not dry_run:
                        shutil.rmtree(p, ignore_errors=True)
                    continue
                if not (d.startswith("tsn=") and os.path.isdir(p)):
                    continue
                for opd in os.listdir(p):
                    full = os.path.join(p, opd)
                    if (
                        os.path.abspath(full) not in referenced
                        and os.path.isdir(full)
                        and _newest_mtime(full) < orphan_cutoff
                    ):
                        removed += 1
                        if not dry_run:
                            shutil.rmtree(full, ignore_errors=True)
                # emptied tsn= shell: remove here, not only in the
                # end-of-vacuum pass — that pass is unreachable when no
                # checkpoint exists yet (early return below), which leaked
                # one empty dir per crashed staged writer forever (caught by
                # the r7 crash-property leak invariant). No age gate: the
                # rmtree above just bumped p's mtime, and removing an EMPTY
                # dir is always safe — a concurrent writer re-mkdirs the
                # full path on its first file write, and rmdir itself fails
                # (caught below) if an entry appears in the race window.
                if not dry_run and os.path.isdir(p) and not os.listdir(p):
                    try:
                        os.rmdir(p)
                    except OSError:
                        pass

        ckpts = [m for m in manifests if m.get("type") == "checkpoint"]
        if not ckpts:
            return removed
        floor = max(c["csn"] for c in ckpts)

        for m in manifests:
            if m.get("ts", cutoff + 1) >= cutoff:
                continue  # inside the retention window: keep
            if m.get("type") == "checkpoint":
                if m["csn"] < floor and not dry_run:
                    shutil.rmtree(m["dir"], ignore_errors=True)
                    os.remove(os.path.join(self._log_dir, f"checkpoint-{m['csn']:010d}.json"))
                continue
            if m["csn"] <= floor:
                removed += len(m["ops"])
                if dry_run:
                    continue
                for op in m["ops"]:
                    shutil.rmtree(op["dir"], ignore_errors=True)
                os.remove(os.path.join(self._log_dir, f"{m['csn']:010d}.json"))
        if dry_run:
            return removed
        # clean empty tsn= dirs
        for d in os.listdir(self._data_dir):
            p = os.path.join(self._data_dir, d)
            if d.startswith("tsn=") and os.path.isdir(p) and not os.listdir(p):
                os.rmdir(p)
        return removed

    # ------------------------------------------------------------- internals

    def _publish(self, name: str, manifest: dict) -> bool:
        return publish_manifest(self._log_dir, name, manifest)


class Transaction:
    """Buffered write transaction with read-your-own-writes and optimistic
    commit (SURVEY.md §7.3 risk 2: pessimistic locks -> optimistic retry)."""

    def __init__(self, table: VersionedTable, tsn: str, start_csn: int):
        self.table = table
        self.tsn = tsn
        self.start_csn = start_csn
        self._ops: list[_Op] = []
        self._done = False
        # None = follow table.config.cdc_preimages
        self._capture_preimages: bool | None = None

    # ------------------------------------------------------------------ ops

    def upsert(self, rows) -> None:
        """INSERT/UPDATE: stage new row versions (open_create/open_write +
        write_next, system/instance.rs:141-187, 429-444). `rows` is a
        DataFrame or a pyarrow Table holding the table's columns (see
        _add for which ops stage with no Spark job)."""
        self._add("upsert", rows)

    def delete_keys(self, keys) -> None:
        """DELETE: stage tombstones for the given keys (system/instance.rs:191-210).
        `keys` is a DataFrame or pyarrow Table holding the key columns, or a
        list of dicts/tuples, which becomes a Table typed by the key schema."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        kc = self.table.key_cols
        if not isinstance(keys, (DataFrame, pa.Table)):
            key_schema = T.StructType([self.table.schema[k] for k in kc])
            rows = [tuple(k[c] for c in kc) if isinstance(k, dict) else tuple(k) for k in keys]
            keys = pa.Table.from_pylist(
                [dict(zip(kc, r)) for r in rows], schema=to_arrow_schema(key_schema)
            )
        self._add("delete", keys)

    def _add(self, kind: str, rows) -> None:
        """Buffer an op holding exactly its columns (_names); a missing
        column raises here. A frame whose rows are already on the driver
        (local_arrow) becomes a Table op, selected in Arrow so its analyzed
        plan stays a LocalRelation: every Table op stages in this process at
        commit, with no Spark job, and answers Transaction.lookup_table in
        the driver."""
        self._check_open()
        names = self._names(kind)
        if isinstance(rows, DataFrame):
            tbl = local_arrow(rows)
            rows = rows.select(*names) if tbl is None else tbl
        if not isinstance(rows, DataFrame):
            rows = rows.select(names)
        self._ops.append(_Op(kind, rows, opseq=len(self._ops)))

    def savepoint(self) -> int:
        """Mark the current op position; a later :meth:`rollback_to` this
        mark discards every op staged after it while keeping the ones
        before — partial rollback inside one transaction (the reference's
        per-op undo within an open txn, system/instance.rs rollback path,
        without giving up the whole txn's work)."""
        self._check_open()
        return len(self._ops)

    def rollback_to(self, sp: int) -> None:
        """Discard ops staged after savepoint ``sp`` (buffered only — no
        files were written yet, so this is pure list truncation; commit
        stages exactly the surviving ops)."""
        self._check_open()
        if not (0 <= sp <= len(self._ops)):
            raise ValueError(f"invalid savepoint {sp} (have {len(self._ops)} ops)")
        del self._ops[sp:]

    def update_read_csn(self) -> int:
        """Refresh this transaction's read snapshot to the latest published
        commit (Transaction::update_read_csn, system/instance.rs:378-387): a
        long-running txn can observe commits that landed after it began.
        Subsequent read()/merge() calls fold the newer base; the commit-time
        conflict window shrinks to (new start_csn, commit csn) — refreshing
        acknowledges concurrent history, it does not bypass conflicts for
        keys written AFTER the refresh."""
        self._check_open()
        self.start_csn = self.table.latest_csn()
        return self.start_csn

    def merge(
        self,
        source: DataFrame,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        matched_condition: str | None = None,
    ) -> None:
        """Conditional upsert (MERGE) against the txn's read-your-own-writes
        view: source rows whose key exists in read() are updates (applied
        only where `matched_condition` — a SQL expression over src.<col> /
        tgt.<col> — holds, if given); unseen keys are inserts. Stages ONE
        upsert op, so commit atomicity and conflict detection are inherited
        unchanged. when_matched/when_not_matched: 'update'|'ignore' /
        'insert'|'ignore'."""
        self._check_open()
        if when_matched not in ("update", "ignore"):
            raise ValueError(f"when_matched must be update|ignore, got {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(
                f"when_not_matched must be insert|ignore, got {when_not_matched!r}"
            )
        kc = self.table.key_cols
        data_cols = [f.name for f in self.table.schema.fields]
        # match marker: a non-null literal tagged on the TARGET side before
        # the join — testing tgt.<key>.isNotNull() would misroute a matched
        # row whose key VALUE is NULL (the join is eqNullSafe, so NULL keys
        # do match) into the not-matched branch
        tgt = self.read().withColumn("__matched", F.lit(1)).alias("tgt")
        src = source.select(*data_cols).alias("src")
        on = None
        for k in kc:
            clause = F.col(f"src.{k}").eqNullSafe(F.col(f"tgt.{k}"))
            on = clause if on is None else (on & clause)
        joined = src.join(tgt, on=on, how="left")
        is_matched = F.col("tgt.__matched").isNotNull()
        parts = []
        if when_matched == "update":
            m = joined.filter(is_matched)
            if matched_condition:
                m = m.filter(F.expr(matched_condition))
            parts.append(m.select(*[F.col(f"src.{c}").alias(c) for c in data_cols]))
        if when_not_matched == "insert":
            parts.append(
                joined.filter(~is_matched).select(
                    *[F.col(f"src.{c}").alias(c) for c in data_cols]
                )
            )
        if not parts:
            return
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self.upsert(out)

    def read(self) -> DataFrame:
        """Read-your-own-writes snapshot: committed state as of txn start +
        this txn's buffered ops layered on top (uncommitted data visible only
        to self — block_driver.rs visibility `entry.tsn == reader.tsn`).

        The committed part is snapshot(start_csn), so the fold alone decides
        visibility across commits; a window over the snapshot and the
        buffered ops then keeps each key's row from the last op that wrote
        it, the snapshot ranking below every op."""
        self._check_open()
        t = self.table
        data_cols = [f.name for f in t.schema.fields]
        base = t.snapshot(self.start_csn).select(*data_cols)
        if not self._ops:
            return base
        vs = base.withColumn("_deleted", F.lit(False)).withColumn(
            "_opseq", F.lit(-1).cast("long")
        )
        for op in self._ops:
            vs = vs.unionByName(self._full_rows(op))
        w = W.partitionBy(*t.key_cols).orderBy(F.desc("_opseq"))
        return (
            vs.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
            .drop("_rn", "_opseq", "_deleted")
        )

    def lookup_table(self, key: dict):
        """The rows of read() whose key columns equal `key` (every bucket
        column bound), as a driver-side pyarrow Table and with no Spark job:
        the committed rows at start_csn (VersionedTable.lookup_table)
        beneath this transaction's buffered ops for the key, resolved by the
        fold's own newest-version step (`newest_versions`), the committed
        rows ranking below every op. None when a buffered op is a frame
        whose rows are not on the driver (a frame op, see _add): only
        read() resolves those. `key` binds key columns
        only: a filter on any other column would have to wait for the
        resolution."""
        self._check_open()
        t = self.table
        other = sorted(set(key) - set(t.key_cols))
        if other:
            raise ValueError(f"Transaction.lookup_table binds key columns only, not {other}")
        if any(isinstance(op.rows, DataFrame) for op in self._ops):
            return None
        base = t.lookup_table(key, self.start_csn)
        if not self._ops:
            return base
        import pyarrow as pa

        from db_core_spark.sources.versioned_datasource import (  # noqa: PLC0415
            _row_filter_mask,
            _typed_key,
            newest_versions,
        )

        key = _typed_key(key, t.schema)
        n = base.num_rows
        parts = [
            base.append_column("_deleted", pa.repeat(pa.scalar(False), n)).append_column(
                "_opseq", pa.repeat(pa.scalar(-1, pa.int64()), n)
            )
        ]
        for op in self._ops:
            rows = self._physical(op)
            parts.append(rows.filter(_row_filter_mask(rows, key)))
        vs = pa.concat_tables(parts, promote_options="permissive")
        vs = vs.append_column(
            "_csn", pa.repeat(pa.scalar(self.start_csn, pa.int64()), vs.num_rows)
        )
        out = newest_versions(vs, t.key_cols)
        return out.select(base.schema.names).cast(base.schema)

    # --------------------------------------------------------------- commit

    def commit(
        self,
        max_csn_attempts: int = 50,
        extra: dict | None = None,
        capture_preimages: bool | None = None,
    ) -> int:
        """Write staged files, then claim the next csn by atomic manifest
        publish. Conflict rule: if any manifest in (start_csn, claimed_csn)
        has a write-set overlapping ours -> ConflictError (optimistic
        replacement for tran_mgr object locks; lost-update test passes via
        caller retry). `extra` merges additional fields into the manifest
        (e.g. streaming writer/epoch identity for exactly-once sinks).
        `capture_preimages` overrides config.cdc_preimages for this commit
        (see _stage)."""
        self._check_open()
        self._done = True
        if not self._ops:
            return self.start_csn
        if capture_preimages is not None:
            self._capture_preimages = capture_preimages
        try:
            csn = self._claim(self._stage(), max_csn_attempts, extra)
        except BaseException:
            # failed commit = nothing published; its staged tsn= files would
            # otherwise sit orphaned until vacuum (rollback() is blocked by
            # _done) — and run_transaction's retry loop would leak one full
            # staged copy of the write set PER lost attempt (ADVICE r6)
            self._discard_staged()
            raise
        if self.table.config.auto_maintain:
            # in-line background-maintenance analog (checkpointer.rs:44-176,
            # see EngineConfig.auto_maintain): threshold check costs a
            # manifest-name listing; materialization amortizes over
            # checkpoint_every_commits commits.
            self.table.maybe_checkpoint()
        return csn

    def _stage(self) -> list[dict]:
        """Phase 1 of commit: write every op's data files (invisible until a
        manifest publishes) and return the ops' manifest entries. Split out
        so a multi-table GroupTransaction can stage ALL tables before
        claiming any csn (plans/group.py).

        One writer, two places to run it: every op is cast to the table's
        types (physical_rows) and staged through stage_part. A Table op —
        a pyarrow Table, a delete_keys list, object chunks, or a frame whose
        rows were on the driver when it was added (_add: a pandas or Arrow
        createDataFrame, a literal_frame) — is staged in this process, with
        no Spark job. A frame op runs one mapInArrow job over its own
        partitions (_stage_task): each task stages its rows as one part,
        so the op writes at most one file per partition and non-empty
        bucket, and the driver keeps only the files the successful tasks
        reported (keep_reported). The commit's write-set is read back from
        these files (op_write_set) only if a conflict check needs it.

        CDC before-images (config.cdc_preimages or commit(capture_preimages=
        True)): for each op, the previous values of the op's keys — folded
        through EARLIER ops of the same txn, so multi-op txns retract
        correctly — are staged like an op frame into an `_preimg/` subdir
        of the op dir, and the op records ``preimages: true``.
        Underscore-prefixed, so every snapshot reader ignores it by
        convention; only the CDC stream reader targets it explicitly."""
        t = self.table
        capture = (
            self._capture_preimages
            if self._capture_preimages is not None
            else t.config.cdc_preimages
        )
        # running pre-state for preimage folds: committed snapshot at txn
        # start, updated per op below (lazy plans; op counts are small)
        state = t.snapshot(as_of_csn=self.start_csn) if capture else None
        kc = t.key_cols
        data_cols = [f.name for f in t.schema.fields]
        ops_meta = []

        def stage_frame(frame, args, out_dir):
            # one mapInArrow job over the frame's partitions; only the
            # files a successful task reported are kept
            staged = frame.mapInArrow(
                functools.partial(_stage_task, *args, out_dir, t.num_buckets, t.bucket_cols),
                "paths array<string>",
            ).collect()
            paths = [p for r in staged for p in r.paths]
            keep_reported(out_dir, paths)
            return paths

        for op in self._ops:
            out_dir = os.path.join(t._data_dir, f"tsn={self.tsn}", f"opseq={op.opseq}")
            if isinstance(op.rows, DataFrame):
                args = (t.schema, self._names(op.kind), op.kind == "delete", op.opseq)
                paths = stage_frame(op.rows, args, out_dir)
            else:
                paths = stage_part(self._physical(op), out_dir, t.num_buckets, t.bucket_cols)
            # an op that staged ZERO rows (empty upsert / delete of nothing)
            # writes no parquet files — referencing its dir would break
            # every reader, so it is dropped from the manifest (the commit
            # still publishes, possibly with ops: [])
            if not paths:
                shutil.rmtree(out_dir, ignore_errors=True)
                continue
            ops_meta.append(
                {"dir": out_dir, "opseq": op.opseq, "kind": op.kind,
                 "buckets": t.num_buckets}
            )
            if capture:
                # preimages: previous values of this op's keys, relative to
                # the running pre-state (committed snapshot + earlier ops of
                # this txn) — the retraction rows an incremental MV needs.
                # Keys match null-safely, as the fold groups them.
                written = t.spark.read.parquet(out_dir).select(*data_cols, "_deleted")
                op_keys = written.select(
                    *[F.col(c).alias(f"_key{i}") for i, c in enumerate(kc)]
                ).distinct()
                same_key = functools.reduce(operator.and_, [
                    F.col(c).eqNullSafe(F.col(f"_key{i}")) for i, c in enumerate(kc)
                ])
                # an op none of whose keys had a pre-state row gets no dir
                stage_frame(
                    state.join(op_keys, same_key, "left_semi").select(*data_cols),
                    (t.schema, data_cols, False, op.opseq),
                    os.path.join(out_dir, "_preimg"),
                )
                ops_meta[-1]["preimages"] = True
                if op.kind == "upsert":
                    state = written.filter(~F.col("_deleted")).drop(
                        "_deleted"
                    ).unionByName(state.join(op_keys, same_key, "left_anti"))
                else:
                    state = state.join(op_keys, same_key, "left_anti")
        return ops_meta

    def _claim(
        self,
        ops_meta: list[dict],
        max_csn_attempts: int = 50,
        extra: dict | None = None,
        group: dict | None = None,
    ) -> int:
        """Phase 2 of commit: claim_csn for this txn — conflict window
        (start_csn, candidate), the table's group grace, published through
        the table's _publish."""
        t = self.table
        return claim_csn(
            t.path, self.start_csn, self.tsn, ops_meta,
            t.config.group_pending_grace_seconds, f"txn {self.tsn}",
            group=group, extra=extra, attempts=max_csn_attempts,
            read=t._read_manifest, publish=t._publish,
        )

    def rollback(self) -> None:
        """Discard staged files (WAL rollback + version-store restore,
        system/instance.rs:114-122, collapses to deletion of never-published data)."""
        self._check_open()
        self._done = True
        self._discard_staged()

    def _discard_staged(self) -> None:
        """Delete this txn's staged-but-unpublished tsn= directory. Safe at
        any point before a successful _claim: staged files are invisible to
        every reader until a manifest references them."""
        shutil.rmtree(os.path.join(self.table._data_dir, f"tsn={self.tsn}"), ignore_errors=True)

    # ------------------------------------------------------------ internals

    def _names(self, kind: str) -> list[str]:
        """The columns an op holds: every data column of an upsert, the key
        columns of a delete."""
        t = self.table
        return [f.name for f in t.schema.fields] if kind == "upsert" else t.key_cols

    def _physical(self, op: _Op):
        """physical_rows of a Table op: its rows in the table's types, a
        delete's non-key columns null, plus _deleted and _opseq."""
        return physical_rows(
            op.rows, self.table.schema, self._names(op.kind), op.kind == "delete", op.opseq
        )

    def _full_rows(self, op: _Op) -> DataFrame:
        """Normalize an op to the full physical schema (+_deleted,_opseq);
        a delete's non-key columns are null. A Table op becomes a frame
        only here (a local relation: createDataFrame runs no job)."""
        if not isinstance(op.rows, DataFrame):
            return self.table.spark.createDataFrame(self._physical(op))
        kc = self.table.key_cols
        cols = [
            F.col(f.name) if op.kind == "upsert" or f.name in kc
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.table.schema.fields
        ]
        return op.rows.select(
            *cols,
            F.lit(op.kind == "delete").alias("_deleted"),
            F.lit(op.opseq).cast("long").alias("_opseq"),
        )

    def _check_open(self) -> None:
        if self._done:
            raise RuntimeError("transaction already committed or rolled back")
