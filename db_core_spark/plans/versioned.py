"""VersionedTable — ACID, MVCC-snapshot table on Parquet + a JSON commit log.

Reference-parity map (citations into /root/reference):
- begin/commit/rollback        <- src/system/instance.rs:88-122 (tsn/csn alloc,
  WAL commit record, flush-on-commit). Here: commit publishes a manifest by
  atomic hard-link into _commitlog/ — the link either exists or it doesn't,
  which is the flush+publish of latest_commit_csn (system/instance.rs:212-219).
- snapshot visibility          <- src/storage/block_driver.rs:457-486
  (entry.csn <= reader.csn, else walk prev-version chain). Here: rows carry
  (_csn, _opseq); 'walk the chain' becomes keep newest version per key with
  _csn <= S via one window.
- tombstone delete             <- src/system/instance.rs:191-210 (deleted flag
  on entries). Here: _deleted=true rows that win the window hide the key.
- optimistic conflict check    <- src/tran_mgr/tran_mgr.rs:85-127 replaces
  pessimistic object locks: at commit, write-sets are compared against
  manifests published since txn start (documented divergence, SURVEY.md §7.3).
- crash recovery               <- src/system/instance.rs:221-304 (restore
  checkpoint + redo log + rollback open txns). Here recovery is a *property*:
  state is the fold of published manifests; staged-but-unpublished files are
  invisible, a torn tmp manifest is ignored.
- checkpoint/compaction/vacuum <- src/system/checkpointer.rs + version
  reclamation (src/storage/version_store.rs:14-17, 264-309): materialize the
  resolved snapshot at csn C into compact files; reclaim older versions.

Scale design: data files are immutable parquet under
data/tsn=<n>/opseq=<k>/bucket=<crc32(key)%B>/ — a key-hash-bucketed layout
with two writers that agree on it: the JVM partitionBy("bucket") write job
and `write_bucketed`, one pyarrow function (the python bucket twin). A
commit stages an op whose frame is a LocalRelation (rows already on the
driver: pandas/Arrow frames, delete_keys lists, object chunks) in-process
through `write_bucketed` after one toArrow() job — the reference's commit
writes in-process too (system/instance.rs:141-187) — and any other frame
through the Spark write job; the versioned DataSource's batch and stream
writers call `write_bucketed` on the executors. Every writer records its
write-set through `key_string`, and every writer claims its csn through
`claim_csn`: the commit-log protocol (name-only log listing, op-list
resolution from the newest checkpoint, group visibility, the
reclaimed-history guard, the conflict-checked claim) exists once, as the
module-level functions below, for VersionedTable, Transaction and the
DataSource's readers and writers alike.
Snapshot reads go through the `versioned` Python DataSource with
min(num_buckets, defaultParallelism) input partitions — one Python task per
core, never more tasks than buckets. Each task owns a group of buckets,
lists ONLY those buckets' files and resolves "newest visible version per
key" one bucket at a time — zero shuffle, the Spark analog of the
reference's O(versions-of-that-object) chain walk (block_driver.rs:461-486).
Point reads (`lookup()`, and the ObjectStore reads that see no buffered
writes) run that reader's fold for the key's one bucket in the driver
process and schedule no Spark job. Checkpoints resolve through the same
reader at the same width and write partitionBy(bucket) — shuffle-free end
to end, one file per non-empty bucket — and bound reader input to
(checkpoint, S] deltas. The legacy window resolution
(one global shuffle on the key) remains as `snapshot(engine="window")` and
for unbucketed (num_buckets=0) tables.
"""

from __future__ import annotations

import datetime
import json
import os
import threading
import time
import uuid
import zlib
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from db_core_spark.config import DEFAULT_CONFIG, EngineConfig
from db_core_spark.operators.litframe import literal_frame

META_COLS = ("_csn", "_opseq", "_deleted")

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


def bucket_expr(cols: list[str], num_buckets: int) -> F.Column:
    """JVM-side bucket id for a row: crc32 of the canonical key string mod B.

    crc32 (not xxhash64) because the SAME function must be computable by the
    pyarrow writer, write_bucketed (zlib.crc32) — both writers must land a key in
    the same bucket=<b>/ subdir or in-partition version resolution breaks.
    Canonical form: each column cast to string, NULL -> 'None', joined with
    NUL. Stick to int/string bucket columns; float formatting differs across
    engines (documented constraint, enforced nowhere — keys are ints/strings
    in practice)."""
    canon = F.concat_ws(
        "\x00", *[F.coalesce(F.col(c).cast("string"), F.lit("None")) for c in cols]
    )
    return (F.crc32(F.encode(canon, "UTF-8")) % num_buckets).cast("int")


def _bucket_canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "true" if v else "false"  # JVM casts booleans lowercase
    if isinstance(v, datetime.datetime):
        # JVM timestamp->string trims trailing zeros of the fraction
        # and omits it entirely at .000000; python str() keeps 6 digits
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += "." + f"{v.microsecond:06d}".rstrip("0")
        return s
    return str(v)


def bucket_of_py(values, num_buckets: int) -> int:
    """Python twin of bucket_expr — identical canonicalization, zlib.crc32.
    Property-tested elementwise against the JVM expression across ints,
    strings, NULLs, booleans, dates and timestamps
    (tests/test_scale_patterns.py)."""
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


def write_bucketed(tbl, out_dir: str, num_buckets: int, bucket_cols: list[str]) -> list[str]:
    """The pyarrow writer of an op's data files: split the physical rows
    (data columns, _deleted, _opseq) of pyarrow table ``tbl`` by
    bucket_of_py and write ONE parquet file per non-empty bucket=<b>/
    subdir of ``out_dir`` — the layout the Spark writer's
    partitionBy("bucket") makes. An unbucketed table (num_buckets=0) gets
    one file in ``out_dir`` itself, even when empty. Returns the written
    paths relative to ``out_dir``; empty when a bucketed ``tbl`` has no
    rows. Shared by Transaction._stage (driver-resident ops) and the
    versioned DataSource writers (executor-side parts)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    part = f"part-{uuid.uuid4().hex}.parquet"
    if num_buckets <= 0:
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(tbl, os.path.join(out_dir, part))
        return [part]
    canon = [
        map(_column_encoder(tbl.schema.field(c).type, _bucket_canon), tbl.column(c).to_pylist())
        for c in bucket_cols
    ]
    buckets = pa.array(
        [_crc_bucket(k, num_buckets) for k in zip(*canon)], type=pa.int32()
    )
    rel_paths = []
    for b in sorted(pc.unique(buckets).to_pylist()):
        rel = os.path.join(f"bucket={b}", part)
        os.makedirs(os.path.join(out_dir, f"bucket={b}"), exist_ok=True)
        pq.write_table(tbl.filter(pc.equal(buckets, b)), os.path.join(out_dir, rel))
        rel_paths.append(rel)
    return rel_paths


def key_string(v) -> str:
    """Canonical write-set string of one key value: ``str()`` of the
    python value, with a tz-aware timestamp first converted to naive UTC.
    Every writer records its manifest ``write_keys`` through this, so a
    key encodes the same whether it was read back from a Spark-written
    file (naive timestamps), pulled with ``DataFrame.toArrow()`` or staged
    from a UTC-cast pyarrow table (tz-aware) — the conflict check and
    merge_from compare these strings directly."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def write_set_keys(tbl, key_cols: list[str]) -> set[tuple[str, ...]]:
    """The key_string write-set of a pyarrow table or record batch."""
    cols = [
        map(_column_encoder(tbl.schema.field(c).type, key_string), tbl.column(c).to_pylist())
        for c in key_cols
    ]
    return set(zip(*cols))


def _staging_parts(df: DataFrame, num_buckets: int) -> int:
    """Shuffle width for an op staged through a Spark write job (a frame
    that is not a driver-resident LocalRelation — see Transaction._stage):
    enough partitions that each write task handles ~128 MB (guide §6
    output sizing), clamped to [1, num_buckets] — hash-partitioning on the
    bucket column can never populate more than num_buckets tasks, and a
    small distributed op needs exactly ONE task instead of num_buckets
    stubs of pure scheduling overhead. Catalyst's optimizedPlan estimate
    is free (no data read); an unknown estimate (e.g. a Python-RDD or
    DataSource scan) keeps the full num_buckets width, the pre-r11
    behavior. The output-file invariant is unchanged at every width: each
    bucket lands in exactly one task, so partitionBy writes at most one
    file per non-empty bucket."""
    try:
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        if 0 < est < (1 << 53):
            import math  # noqa: PLC0415

            return max(1, min(num_buckets, math.ceil(est / (128 << 20))))
    except Exception:
        pass
    return num_buckets


def publish_manifest(log_dir: str, name: str, manifest: dict) -> bool:
    """Atomically publish a manifest: write tmp, hard-link to final name.
    link(2) fails with EEXIST if another writer claimed it — the lock-free
    csn allocation (mirrors the CAS publish of latest_commit_csn,
    system/instance.rs:212-219). On object stores this becomes a conditional put."""
    tmp = os.path.join(log_dir, f"_tmp-{uuid.uuid4().hex}.json")
    # json.dumps runs the C encoder; json.dump streams through the pure
    # Python one (2-3x slower on a 50k-key write set)
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
_RESERVED_FIELDS = frozenset({"csn", "tsn", "ops", "write_keys", "ts", "type", "dir", "group"})


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
    my_keys: set[tuple] | None,
    grace: float,
    who: str,
    *,
    names: list | None = None,
    read=None,
    own_writer: str | None = None,
) -> None:
    """Optimistic conflict check of a write-set against every commit in
    (start_csn, upto): ConflictError when a visible concurrent commit's
    write-set overlaps ``my_keys``, or either side is untracked (None).
    A commit whose group is still pending is resolved first (bounded wait
    + force-abort), so the check is never one-eyed. ``own_writer`` skips
    the manifests a stream writer published itself. ``who`` prefixes the
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
    for m in visible_manifests(path, names, start_csn, upto - 1, grace, read):
        if own_writer is not None and m.get("writer") == own_writer:
            continue
        theirs = m.get("write_keys")
        if my_keys is None or theirs is None:
            raise ConflictError(
                f"{who}: concurrent commit csn={m['csn']} with untracked write-set"
            )
        if my_keys & {tuple(k) for k in theirs}:
            raise ConflictError(
                f"{who}: write-set overlaps concurrent commit csn={m['csn']}"
            )


def claim_csn(
    path: str,
    start_csn: int,
    tsn: str,
    ops: list[dict],
    my_keys: set[tuple] | None,
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
    (start_csn, candidate) window on every attempt; returns the csn.

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
            path, start_csn, candidate, my_keys, grace, who,
            names=names, read=read, own_writer=own_writer,
        )
        manifest = {
            "csn": candidate,
            "tsn": tsn,
            "ops": ops,
            "write_keys": sorted(my_keys) if my_keys is not None else None,
            "ts": time.time(),
            **({"group": group} if group is not None else {}),
            **(extra or {}),
        }
        if publish(f"{candidate:010d}.json", manifest):
            return candidate
        # lost the race for this csn; re-check conflicts vs the winner
    raise RuntimeError("could not claim a csn (too much commit contention)")


def merge_write_sets(parts) -> set[tuple] | None:
    """Union of per-part key_string write-sets (lists of keys; None = a
    part too large to track). Degrades to None — conflicts with anything —
    when any part is untracked or the union exceeds
    DEFAULT_CONFIG.max_tracked_keys, the rule Transaction._stage applies."""
    keys: set[tuple] = set()
    for part in parts:
        if part is None:
            return None
        keys.update(tuple(k) for k in part)
        if len(keys) > DEFAULT_CONFIG.max_tracked_keys:
            return None
    return keys


@dataclass
class _Op:
    kind: str  # "upsert" | "delete"
    df: DataFrame
    opseq: int
    keys: list[tuple] | None = None  # collected at commit for conflict check


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
    resolution raises if an op directory named by a still-valid manifest
    vanished mid-scan (reclaimed between planning and execution) instead of
    treating the missing dir as empty. ``vacuum(grace)`` therefore only
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
        with open(os.path.join(path, "_meta.json")) as fh:
            meta = json.load(fh)
        self.key_cols: list[str] = meta["key_cols"]
        self.schema: T.StructType = T.StructType.fromJson(meta["schema"])
        # 0 = legacy unbucketed layout (round-1 tables); bucketed is default
        self.num_buckets: int = meta.get("num_buckets", 0)
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
        all chunks + versions of one object. num_buckets=0 keeps the legacy
        unbucketed layout."""
        config = config or DEFAULT_CONFIG
        if num_buckets is None:
            num_buckets = config.num_buckets
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

    def _empty(self) -> DataFrame:
        full = T.StructType(
            list(self.schema.fields)
            + [
                T.StructField("_csn", T.LongType()),
                T.StructField("_opseq", T.LongType()),
                T.StructField("_deleted", T.BooleanType()),
            ]
        )
        return literal_frame(self.spark, [], full)

    def _pad_missing(self, df: DataFrame) -> DataFrame:
        """Schema evolution: files written before an alter_add_column lack
        the new columns; reads null-fill them (latest schema governs every
        read, Delta-style)."""
        for f in self.schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    def _versions(self, as_of: int | None) -> DataFrame:
        """All visible row versions with (_csn,_opseq,_deleted) attached."""
        ops = self._committed_ops(as_of)
        if not ops:
            return self._empty()
        parts = []
        delta_dirs = [o for o in ops if not o["checkpoint"]]
        ckpt_dirs = [o["dir"] for o in ops if o["checkpoint"]]
        if ckpt_dirs:
            # checkpoint files carry physical _csn/_opseq columns already;
            # single uniform-schema dir, so inference + null-padding is safe;
            # the select drops the bucket partition-dir column if bucketed
            parts.append(
                self._pad_missing(self.spark.read.parquet(*ckpt_dirs)).select(
                    *[f.name for f in self.schema.fields], *META_COLS
                )
            )
        if delta_dirs:
            # EXPLICIT read schema, not inference: after alter_add_column the
            # op dirs have mixed schemas, and inference samples one file — a
            # sampled OLD file would silently drop the new column from NEW
            # files. The explicit schema null-fills it per-file instead.
            read_fields = list(self.schema.fields) + [
                T.StructField("_deleted", T.BooleanType()),
                T.StructField("_opseq", T.LongType()),
                T.StructField("tsn", T.StringType()),
                T.StructField("opseq", T.IntegerType()),
            ]
            if self.num_buckets > 0:
                read_fields.append(T.StructField("bucket", T.IntegerType()))
            df = self.spark.read.schema(T.StructType(read_fields)).option(
                "basePath", self._data_dir
            ).parquet(*[o["dir"] for o in delta_dirs])
            # partition discovery yields tsn/opseq dir columns; map tsn->csn
            # via a broadcast join on the (tiny) manifest map — a
            # literal_frame (r11): the map is O(delta commits) driver rows,
            # and the classic createDataFrame path made every consumer of
            # the core read path schedule a 32-task Python-RDD scan just to
            # deserialize it (the r10 litframe finding, deferred then)
            mapping = literal_frame(
                self.spark,
                [
                    (os.path.basename(os.path.dirname(o["dir"])).split("=", 1)[1],
                     int(o["opseq"]), int(o["csn"]))
                    for o in delta_dirs
                ],
                "tsn string, opseq int, _csn long",
            )
            df = (
                df.withColumn("tsn", F.col("tsn").cast("string"))
                .withColumn("opseq", F.col("opseq").cast("int"))
                .join(F.broadcast(mapping), ["tsn", "opseq"])
                .withColumn("_opseq", F.col("opseq").cast("long"))
                .drop("tsn", "opseq")
            )
            parts.append(df.select(*[f.name for f in self.schema.fields], *META_COLS))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshot(self, as_of_csn: int | None = None, engine: str = "auto") -> DataFrame:
        """Snapshot read: newest visible version per key, tombstones dropped
        — the visibility rule of block_driver.rs:457-486.

        Bucketed tables (the default) read through the `versioned` Python
        DataSource (`_bucketed_read`): min(num_buckets, defaultParallelism)
        bucket-group partitions, each listing ONLY its buckets' files and
        resolving versions in-partition, one bucket at a time — no global
        window shuffle, the per-object chain-walk cost model of the
        reference. engine="window" forces the legacy JVM window resolution
        (the only path for unbucketed tables)."""
        if engine not in ("auto", "window", "bucketed"):
            raise ValueError(f"engine must be auto|window|bucketed, got {engine!r}")
        if engine == "bucketed" and self.num_buckets <= 0:
            raise ValueError("table has no bucketed layout (created with num_buckets=0)")
        if engine != "window" and self.num_buckets > 0:
            # availability check runs here, driver-side, so vacuum-reclaimed
            # history raises a typed SnapshotUnavailableError (exceptions
            # inside DataSource planning surface as opaque PythonExceptions)
            self._committed_ops(as_of_csn)
            return self._bucketed_read(as_of_csn)
        vs = self._versions(as_of_csn)
        w = W.partitionBy(*self.key_cols).orderBy(F.desc("_csn"), F.desc("_opseq"))
        return (
            vs.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
            .drop("_rn", *META_COLS)
        )

    def _bucketed_read(self, as_of_csn: int | None, include_meta: bool = False) -> DataFrame:
        """The versioned DataSource read behind snapshot() and checkpoint().

        Width: min(num_buckets, defaultParallelism) bucket-group partitions
        through the reader's numPartitions option. Every Python task pays a
        fixed worker cost before the fold starts (SCALING.md), so the task
        count follows the cores, never the bucket count or a size estimate.

        The read schema is declared, so Spark skips the source's Python
        schema() planning call. It is taken from _meta.json now, not from
        this handle's `self.schema`: another handle's alter_add_column makes
        that stale, and the reader emits the columns _meta.json names."""
        from db_core_spark.sources import (  # noqa: PLC0415
            VersionedDataSource,
            register_versioned_format,
        )

        options = {"path": self.path, "includemeta": str(include_meta).lower()}
        register_versioned_format(self.spark)
        width = min(self.num_buckets, self.spark.sparkContext.defaultParallelism)
        reader = (
            self.spark.read.format("versioned")
            .schema(VersionedDataSource(options).schema())
            .options(**options)
            .option("numPartitions", str(width))
        )
        if as_of_csn is not None:
            reader = reader.option("asOfCsn", str(as_of_csn))
        return reader.load()

    def lookup(self, key: dict) -> DataFrame:
        """Point/prefix lookup by bucket-column values, answered in-process:
        the key's one bucket is folded on the driver and the rows come back
        as a local relation, so collecting them runs no Spark job
        — the analog of the reference's per-object version-chain walk
        (block_driver.rs:461-486), which schedules nothing either. The
        snapshot is pinned when lookup() is called: the DataFrame keeps
        returning those rows after later commits, checkpoints and vacuums.
        `key` must provide every bucket column; extra key columns narrow the
        row filter further. Unbucketed tables return a lazy window-snapshot
        filter instead."""
        if self.num_buckets <= 0:
            return self._window_lookup(key, None)
        tbl, schema = self._fold_key(key, None)
        return self.spark.createDataFrame(tbl, schema=schema)

    def lookup_table(self, key: dict, as_of_csn: int | None = None):
        """The rows of `lookup(key)` at `as_of_csn` (default: latest) as a
        driver-side pyarrow Table — what ObjectStore reads take their bytes
        from."""
        if self.num_buckets <= 0:
            return self._window_lookup(key, as_of_csn).toArrow()
        return self._fold_key(key, as_of_csn)[0]

    def _fold_key(self, key: dict, as_of_csn: int | None):
        """Pin the op list (vacuum-reclaimed history raises
        SnapshotUnavailableError here) and run the versioned reader's fold
        for the key's one bucket in this process, the key pushed into the
        parquet scan. Returns (pyarrow table, its Spark schema)."""
        missing = [c for c in self.bucket_cols if c not in key]
        if missing:
            raise ValueError(f"lookup needs all bucket columns; missing {missing}")
        from db_core_spark.sources.versioned_datasource import (  # noqa: PLC0415
            VersionedSnapshotReader,
        )

        reader = VersionedSnapshotReader(
            self.schema, {"path": self.path},
            ops=self._committed_ops(as_of_csn), key_equals=key,
        )
        (part,) = reader.partitions()
        return reader.fold(part), reader.output_schema()

    def _window_lookup(self, key: dict, as_of_csn: int | None) -> DataFrame:
        sn = self.snapshot(as_of_csn, engine="window")
        for c, v in key.items():
            sn = sn.filter(F.col(c) == F.lit(v))
        return sn

    def history(self) -> DataFrame:
        """Every row version with metadata (the version-store chain view)."""
        return self._versions(None)

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
        and pre-image retraction rows where the table records them. The
        batch twin of the CDC stream — same partition planning (one input
        partition per op/bucket dir), no streaming checkpoint needed. Use
        `diff()` for the endpoint comparison instead of the full ledger.
        ``include_opseq`` additionally exposes the op's position within its
        transaction as ``_opseq`` — required whenever a consumer resolves
        'latest change per key' (one txn may upsert AND delete the same
        key: both rows share a csn, and only opseq orders them)."""
        from db_core_spark.sources import register_versioned_format  # noqa: PLC0415

        register_versioned_format(self.spark)
        reader = (
            self.spark.read.format("versioned")
            .option("path", self.path)
            .option("readChanges", "true")
            .option("fromCsn", str(from_csn))
        )
        if to_csn is not None:
            reader = reader.option("toCsn", str(to_csn))
        if include_opseq:
            reader = reader.option("includeOpseq", "true")
        return reader.load()

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
            # return before touching storage — re-resolving would
            # mode("overwrite") the live checkpoint dir while the lazy scan
            # is still reading it as the fold base (Spark clears the target
            # before the read job runs), leaving an EMPTY checkpoint.
            return csn
        out_dir = os.path.join(self._data_dir, f"checkpoint-{csn:010d}")
        if self.num_buckets > 0:
            # bucketed: resolve in-partition via the datasource reader (each
            # task folds only its buckets' files, one bucket at a time) and
            # write partitionBy the carried bucket id — end-to-end
            # shuffle-free checkpointing; every bucket lives in one task, so
            # each non-empty bucket gets exactly one file
            resolved = self._bucketed_read(csn, include_meta=True)
            # r11: write first, then probe the result driver-side — the
            # former limit(1).count() emptiness pre-check cost a full extra
            # datasource read job per checkpoint just to pick the writer
            # branch. partitionBy writes NO parquet files for empty input,
            # which would leave an unreadable checkpoint dir (e.g. every
            # key tombstoned) — detected from the written dir (os.walk, no
            # job) and repaired by one empty non-partitioned file so the
            # fold base always parses; bucket-pruned readers skip it.
            resolved.write.partitionBy("bucket").mode("overwrite").parquet(out_dir)
            wrote_any = any(
                f.endswith(".parquet")
                for _, _, files in os.walk(out_dir)
                for f in files
            )
            if not wrote_any:
                resolved.drop("bucket").write.mode("overwrite").parquet(out_dir)
        else:
            vs = self._versions(csn)
            w = W.partitionBy(*self.key_cols).orderBy(F.desc("_csn"), F.desc("_opseq"))
            resolved = (
                vs.withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
                .drop("_rn")
            )
            resolved.write.mode("overwrite").parquet(out_dir)
        manifest = {
            "type": "checkpoint", "csn": csn, "dir": out_dir, "ts": time.time(),
            "buckets": self.num_buckets,
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
        column null on both read engines. Existing files are never
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
        if self.num_buckets <= 0:
            raise ValueError(
                "rebucket from an unbucketed legacy layout is unsupported "
                "(mixed partition structures cannot share one scan); "
                "recreate the table bucketed instead"
            )
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
        import shutil  # noqa: PLC0415

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
                    # hole commit: wrote NOTHING, so its write-set is the
                    # EMPTY list — None means "untracked, conflicts with
                    # everything" to _check_conflicts and would wrongly
                    # abort any clone-side txn whose window spans this csn
                    m = {"csn": csn, "tsn": m.get("tsn"), "ops": [],
                         "write_keys": [], "ts": m.get("ts", time.time())}
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

        Change sets come from manifest ``write_keys`` (pure metadata — no
        data scan decides the merge); a side with an untracked write-set
        raises. Keys changed on BOTH sides since the base are conflicts:
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
            for m in t._manifests():
                if m.get("type") == "checkpoint" or m["csn"] <= base_csn:
                    continue
                wk = m.get("write_keys")
                if wk is None:
                    raise ConflictError(
                        f"merge_from: commit csn={m['csn']} on {t.path} has an "
                        "untracked write-set; cannot compute a key-level merge"
                    )
                keys |= {tuple(k) for k in wk}
            return keys

        ours, theirs = changed(self), changed(other)
        conflicts = ours & theirs
        if conflicts and on_conflict == "error":
            sample = sorted(conflicts)[:10]
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
        # produced write_keys — key_string over arrow-materialized values.
        # Spark's cast('string') diverges for booleans ('true' vs 'True')
        # and floats in scientific notation, and a miss here silently
        # DROPS a branch change (the unsafe direction — unlike the conflict
        # check, where a collision is merely a spurious conflict). So:
        # collect the branch's distinct changed keys (bounded by
        # max_tracked_keys — merge already requires tracked write-sets),
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
        latest = latest_all.join(F.broadcast(wanted), kc, "left_semi")
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
            for root, _dirs, files in os.walk(op["dir"]):
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
        import shutil

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

    def upsert(self, df: DataFrame) -> None:
        """INSERT/UPDATE: stage new row versions (open_create/open_write +
        write_next, system/instance.rs:141-187, 429-444)."""
        self._check_open()
        self._ops.append(_Op("upsert", df, opseq=len(self._ops)))

    def delete_keys(self, keys) -> None:
        """DELETE: stage tombstones for the given keys (system/instance.rs:191-210).
        `keys` is a DataFrame of key columns or a list of dicts/tuples."""
        self._check_open()
        kc = self.table.key_cols
        if not isinstance(keys, DataFrame):
            key_schema = T.StructType([self.table.schema[k] for k in kc])
            rows = [tuple(k[c] for c in kc) if isinstance(k, dict) else tuple(k) for k in keys]
            keys = literal_frame(self.table.spark, rows, key_schema)
        self._ops.append(_Op("delete", keys.select(*kc), opseq=len(self._ops)))

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
        to self — block_driver.rs visibility `entry.tsn == reader.tsn`)."""
        self._check_open()
        base = self.table._versions(self.start_csn)
        parts = [base]
        big = 1 << 60  # own writes sort above every committed csn
        for op in self._ops:
            parts.append(
                self._full_rows(op).withColumn("_csn", F.lit(big + op.opseq).cast("long"))
            )
        vs = parts[0]
        for p in parts[1:]:
            vs = vs.unionByName(p)
        kc = self.table.key_cols
        w = W.partitionBy(*kc).orderBy(F.desc("_csn"), F.desc("_opseq"))
        return (
            vs.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
            .drop("_rn", *META_COLS)
        )

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
            ops_meta, my_keys = self._stage()
            csn = self._claim(ops_meta, my_keys, max_csn_attempts, extra)
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

    def _stage(self) -> tuple[list[dict], set[tuple] | None]:
        """Phase 1 of commit: write every op's data files (invisible until a
        manifest publishes) and collect the write-set. Split out so a
        multi-table GroupTransaction can stage ALL tables before claiming
        any csn (plans/group.py).

        Two ways to write an op, one layout (one parquet file per non-empty
        bucket=<b>/ dir): an op whose frame is a LocalRelation stages in
        this process (_local_rows: one toArrow() job, then write_bucketed,
        write-set taken from the in-memory table); any other frame runs a
        Spark repartition + partitionBy("bucket") write job sized by
        _staging_parts, and its write-set is read back from the files.

        CDC before-images (config.cdc_preimages or commit(capture_preimages=
        True)): for each op, the previous values of the op's keys — folded
        through EARLIER ops of the same txn, so multi-op txns retract
        correctly — are written to an `_preimg/` subdir of the op dir.
        Underscore-prefixed, so every snapshot reader (JVM parquet scan,
        pyarrow dataset, the versioned DataSource) ignores it by
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
        ops_meta = []
        my_keys: set[tuple] | None = set()
        for op in self._ops:
            out_dir = os.path.join(t._data_dir, f"tsn={self.tsn}", f"opseq={op.opseq}")
            local = self._local_rows(op)
            if local is not None:
                has_files = bool(
                    write_bucketed(local, out_dir, t.num_buckets, t.bucket_cols)
                )
            else:
                full = self._full_rows(op).drop("_csn")  # csn attached at read via manifest
                if t.num_buckets > 0:
                    # key-hash layout: rows land under bucket=<b>/ so readers
                    # prune file lists per bucket; the repartition bounds
                    # output to one file per non-empty bucket
                    full = full.withColumn(
                        "bucket", bucket_expr(t.bucket_cols, t.num_buckets)
                    )
                    full.repartition(
                        _staging_parts(full, t.num_buckets), F.col("bucket")
                    ).write.partitionBy("bucket").mode("errorifexists").parquet(out_dir)
                else:
                    full.write.mode("errorifexists").parquet(out_dir)
                has_files = any(
                    f.endswith(".parquet")
                    for _, _, files in os.walk(out_dir)
                    for f in files
                )
            # an op that staged ZERO rows (empty upsert / delete of nothing)
            # writes no parquet files under the bucketed layout —
            # referencing its dir would break every reader, so it is dropped
            # from the manifest (the commit still publishes, possibly with
            # ops: [])
            if not has_files:
                import shutil  # noqa: PLC0415

                shutil.rmtree(out_dir, ignore_errors=True)
                continue
            ops_meta.append(
                {"dir": out_dir, "opseq": op.opseq, "kind": op.kind,
                 "buckets": t.num_buckets}
            )
            if capture:
                # preimages: previous values of this op's keys, relative to
                # the running pre-state (committed snapshot + earlier ops of
                # this txn) — the retraction rows an incremental MV needs
                written = self.table.spark.read.parquet(out_dir).select(
                    *[f.name for f in t.schema.fields], "_deleted"
                )
                op_keys = written.select(*kc).distinct()
                pre = state.join(op_keys, kc, "left_semi")
                pre_dir = os.path.join(out_dir, "_preimg")
                pre.write.mode("errorifexists").parquet(pre_dir)
                if any(f.endswith(".parquet") for f in os.listdir(pre_dir)):
                    ops_meta[-1]["preimages"] = True
                if op.kind == "upsert":
                    state = written.filter(~F.col("_deleted")).drop(
                        "_deleted"
                    ).unionByName(state.join(op_keys, kc, "left_anti"))
                else:
                    state = state.join(op_keys, kc, "left_anti")
            if my_keys is not None:
                # write-set keys come from the rows that landed on disk:
                # the in-memory table of a driver-staged op, else the FILES
                # JUST WRITTEN (pyarrow column read, streamed in batches)
                # rather than a second execution of op.df — so the tracked
                # set is exact even if the source plan were
                # nondeterministic. key_string form: JSON-safe for any key
                # type and identical across writers (cross-type str
                # collisions can only cause a SPURIOUS conflict — the safe
                # direction).
                if local is not None:
                    batches = [local]
                else:
                    import pyarrow.dataset as pads  # noqa: PLC0415

                    batches = pads.dataset(out_dir, format="parquet").to_batches(
                        columns=kc, batch_size=65536
                    )
                cap = t.config.max_tracked_keys
                for batch in batches:
                    my_keys |= write_set_keys(batch, kc)
                    if len(my_keys) > cap:
                        my_keys = None  # degrade: conflicts with anything
                        break
        return ops_meta, my_keys

    def _local_rows(self, op: _Op):
        """The op's physical rows (data columns, _deleted, _opseq) as a
        pyarrow table when its frame is a LocalRelation — rows that already
        sit on the driver (a pandas or Arrow createDataFrame, a
        literal_frame, a delete_keys list) — else None. The rows come over
        in ONE ``toArrow()`` job (a JVM-side local scan: no Python worker,
        no shuffle, no write stage), so the op stages in-process instead of
        through a Spark write job. A frame whose column types differ from
        the table's keeps the Spark path, which writes the frame's own
        types."""
        t = self.table
        if op.df._jdf.queryExecution().optimizedPlan().nodeName() != "LocalRelation":
            return None
        names = [f.name for f in t.schema.fields] if op.kind == "upsert" else t.key_cols
        given = op.df.select(*names).schema.fields  # analysis only: resolved names
        if [f.dataType for f in given] != [t.schema[n].dataType for n in names]:
            return None
        import pyarrow as pa  # noqa: PLC0415

        physical = physical_arrow_schema(t.schema)
        arrow = op.df.toArrow()
        n = arrow.num_rows
        cols = {name: arrow.column(f.name) for name, f in zip(names, given)}
        return pa.Table.from_arrays(
            [
                cols[f.name].cast(f.type) if f.name in cols else pa.nulls(n, f.type)
                for f in list(physical)[:-2]
            ]
            + [
                pa.repeat(pa.scalar(op.kind == "delete"), n),
                pa.repeat(pa.scalar(op.opseq, pa.int64()), n),
            ],
            schema=physical,
        )

    def _claim(
        self,
        ops_meta: list[dict],
        my_keys: set[tuple] | None,
        max_csn_attempts: int = 50,
        extra: dict | None = None,
        group: dict | None = None,
    ) -> int:
        """Phase 2 of commit: claim_csn for this txn — conflict window
        (start_csn, candidate), the table's group grace, published through
        the table's _publish."""
        t = self.table
        return claim_csn(
            t.path, self.start_csn, self.tsn, ops_meta, my_keys,
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
        import shutil

        shutil.rmtree(os.path.join(self.table._data_dir, f"tsn={self.tsn}"), ignore_errors=True)

    # ------------------------------------------------------------ internals

    def _full_rows(self, op: _Op) -> DataFrame:
        """Normalize an op to the full physical schema (+_opseq,_deleted;
        _csn is virtual until commit)."""
        t = self.table
        if op.kind == "upsert":
            df = op.df.select(*[f.name for f in t.schema.fields])
            df = df.withColumn("_deleted", F.lit(False))
        else:
            df = op.df
            for f in t.schema.fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            df = df.select(*[f.name for f in t.schema.fields]).withColumn(
                "_deleted", F.lit(True)
            )
        return df.withColumn("_opseq", F.lit(op.opseq).cast("long")).withColumn(
            "_csn", F.lit(None).cast("long")
        )

    def _check_conflicts(self, my_keys: set[tuple] | None, upto: int) -> None:
        check_conflicts(
            self.table.path, self.start_csn, upto, my_keys,
            self.table.config.group_pending_grace_seconds, f"txn {self.tsn}",
            read=self.table._read_manifest,
        )

    def _check_open(self) -> None:
        if self._done:
            raise RuntimeError("transaction already committed or rolled back")
