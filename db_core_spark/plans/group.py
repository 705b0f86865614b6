"""Multi-table group transactions — one atomic commit spanning several
VersionedTables.

Reference parity: a db-core transaction writes MANY objects across MANY
files and commits them with one WAL commit record
(/root/reference/src/system/instance.rs:102-111 — the commit csn covers
every Vector the txn logged, src/log_mgr/io.rs:75-217). The per-table
Transaction in plans/versioned.py only covers one table; this module
restores the reference's cross-object atomicity for the multi-table case.

Protocol (commit-marker, decide-by-atomic-link):

1. STAGE    — every table txn writes its data files (invisible: no
              manifest yet). Mirrors the WAL-buffered writes before the
              commit record (src/log_mgr/buf.rs).
2. CLAIM    — each table txn claims its csn by publishing its manifest
              with a ``group: {dir, id}`` field. Such a manifest is
              INVISIBLE to every reader until the group marker exists
              (plans/versioned.py resolve_group_status).
3. DECIDE   — publish ``<group_dir>/<gid>.json`` with status=committed by
              atomic hard-link: the single commit point for the whole
              group — it either exists or it doesn't, exactly like the
              flush of the reference's commit record (system/instance.rs:212-219).
              On any claim failure (conflict in table k of n), the
              coordinator links status=aborted instead: tables that
              already claimed keep their manifests as hole-filling empty
              commits (csn contiguity preserved, data never visible).

Crash safety: a coordinator that dies between CLAIM and DECIDE leaves
pending manifests; any reader that needs the affected csn window waits
out ``group_pending_grace_seconds`` and then force-aborts by linking the
marker itself — first link wins, the decision is immutable, so every
reader and every future as-of read agrees forever (bounded-pending
window; the optimistic analog of tran_mgr.rs:108-127 lock-wait timeouts).

Cross-table consistency: both tables' rows from one group commit become
visible atomically — a reader can never see table A's half without table
B's, because both manifests consult the same marker file.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, types as T

from db_core_spark.config import DEFAULT_CONFIG, EngineConfig
from db_core_spark.plans.versioned import (
    ConflictError,
    Transaction,
    VersionedTable,
    publish_manifest,
)


class Database:
    """A directory of VersionedTables sharing one group-commit log
    (``_groupcommits/``) — the unit within which multi-table transactions
    are atomic. Mirrors the reference's single datastore containing many
    objects (src/storage/datastore.rs:777-782: one store, many files)."""

    def __init__(self, spark: SparkSession, path: str, config: EngineConfig | None = None):
        self.spark = spark
        self.path = path
        self.config = config or DEFAULT_CONFIG
        self.group_dir = os.path.join(path, "_groupcommits")
        if not os.path.isdir(self.group_dir):
            raise FileNotFoundError(f"{path} is not a Database (no _groupcommits/)")
        self._tables: dict[str, VersionedTable] = {}

    @classmethod
    def create(
        cls, spark: SparkSession, path: str, config: EngineConfig | None = None
    ) -> "Database":
        os.makedirs(os.path.join(path, "_groupcommits"), exist_ok=False)
        return cls(spark, path, config=config)

    def create_table(
        self,
        name: str,
        key_cols: list[str],
        schema: T.StructType,
        num_buckets: int | None = None,
        bucket_cols: list[str] | None = None,
    ) -> VersionedTable:
        t = VersionedTable.create(
            self.spark,
            os.path.join(self.path, name),
            key_cols=key_cols,
            schema=schema,
            num_buckets=num_buckets,
            bucket_cols=bucket_cols,
            config=self.config,
        )
        self._tables[name] = t
        return t

    def table(self, name: str) -> VersionedTable:
        if name not in self._tables:
            self._tables[name] = VersionedTable.open(
                self.spark, os.path.join(self.path, name), config=self.config
            )
        return self._tables[name]

    def table_names(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.path)
            if os.path.isfile(os.path.join(self.path, d, "_meta.json"))
        )

    def begin(self) -> "GroupTransaction":
        return GroupTransaction(self)

    def run_transaction(
        self,
        build,
        *,
        wait_timeout_ms: int = -1,
        backoff_ms: int = 50,
    ) -> dict[str, int]:
        """Group twin of :meth:`VersionedTable.run_transaction`: run
        ``build(group_txn)`` and commit atomically across every touched
        table, retrying the WHOLE group from a fresh validated cut on
        ConflictError until it lands or the deadline passes (then the
        typed :class:`ConflictTimeoutError`, mirroring the reference's
        bounded lock wait, tran_mgr.rs:108-127). Each retry re-pins via
        ``snapshot_pin()``, so cross-table read-modify-write in ``build``
        observes the winner's writes on a consistent cut. Returns
        {table: csn}."""
        import time as _time

        from db_core_spark.plans.versioned import ConflictTimeoutError

        deadline = (
            None if wait_timeout_ms < 0 else _time.monotonic() + wait_timeout_ms / 1000.0
        )
        while True:
            g = self.begin()
            try:
                build(g)
                return g.commit()
            except ConflictError as exc:
                if isinstance(exc, ConflictTimeoutError):
                    raise
                if deadline is not None and _time.monotonic() >= deadline:
                    raise ConflictTimeoutError(
                        f"no conflict-free group commit within {wait_timeout_ms} ms"
                    ) from exc
                if backoff_ms > 0:
                    _time.sleep(backoff_ms / 1000.0)

    def sql(self, query: str, as_of: dict[str, int] | None = None):
        """SQL-text interface over the database's versioned tables: every
        table registers as a temp view of its CURRENT snapshot — or, with
        ``as_of={'table': csn}``, a time-travel snapshot — then the query
        runs through spark.sql (full Catalyst: joins, windows, CTEs).
        Cross-table consistency: pass ``as_of=db.snapshot_pin()`` to query
        a validated consistent cut (the same pin clone() uses), which is
        the multi-table repeatable-read the reference gives one txn's
        read_csn (/root/reference/src/system/instance.rs:88-122).

        Views are scoped to the Spark session and re-registered per call
        (cheap: snapshot() builds a lazy plan; nothing materializes until
        the query runs)."""
        as_of = as_of or {}
        for name in self.table_names():
            snap = self.table(name).snapshot(as_of_csn=as_of.get(name))
            snap.createOrReplaceTempView(name)
        for vname, vsql in self.view_names().items():
            self.spark.sql(vsql).createOrReplaceTempView(vname)
        return self.spark.sql(query)

    # ------------------------------------------------------------- views

    @property
    def _views_path(self) -> str:
        return os.path.join(self.path, "_views.json")

    def view_names(self) -> dict[str, str]:
        """{view name: stored SQL text}. Views resolve over table snapshots
        (and earlier-defined views) at query time."""
        if not os.path.isfile(self._views_path):
            return {}
        with open(self._views_path) as f:
            return dict(json.load(f))

    def create_view(self, name: str, sql_text: str, replace: bool = False) -> None:
        """Persist a named SQL view (catalog metadata only — no data is
        materialized; the text re-plans against the LIVE table snapshots
        on every db.sql() call, so views track table state like any
        catalog view). The canonical use is a governed projection — e.g. a
        masked or row-filtered face of a table that analysts query instead
        of the base table. Definition order matters: a view may reference
        previously created views. Names must not shadow tables."""
        if name in self.table_names():
            raise ValueError(f"view {name!r} would shadow a table")
        views = self.view_names()
        if name in views and not replace:
            raise ValueError(f"view {name!r} exists (pass replace=True)")
        views[name] = sql_text
        tmp = self._views_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(views, f, indent=1)
        os.replace(tmp, self._views_path)

    def drop_view(self, name: str) -> None:
        views = self.view_names()
        views.pop(name, None)
        tmp = self._views_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(views, f, indent=1)
        os.replace(tmp, self._views_path)

    def clone(self, dst_path: str, max_retries: int = 5) -> "Database":
        """Zero-copy clone of the WHOLE database at one mutually consistent
        cut: the cut comes from snapshot_pin (validated against group
        membership, so a multi-table transaction is never half-cloned),
        every table hard-link-clones at its pinned csn
        (VersionedTable.clone), and the finished directory publishes with
        a single atomic rename — a partial failure leaves only an unnamed
        staging dir, never a half-database at dst_path. Committed group
        transactions freeze as plain commits inside each cloned table, so
        the clone starts with an EMPTY group-commit log and full
        independence from the source's markers."""
        pins = self.snapshot_pin(max_retries=max_retries)
        parent = os.path.dirname(dst_path.rstrip("/")) or "."
        os.makedirs(parent, exist_ok=True)
        staging = os.path.join(parent, f"._staging-db-{uuid.uuid4().hex}")
        try:
            os.makedirs(os.path.join(staging, "_groupcommits"), exist_ok=False)
            for name in self.table_names():
                self.table(name).clone(
                    os.path.join(staging, name), as_of_csn=pins[name]
                )
            # manifests written under staging name staging paths; retarget
            # them to the final location BEFORE publish (staging is private,
            # so the in-place rewrite is single-writer by construction)
            staging_abs = os.path.abspath(staging)
            dst_abs = os.path.abspath(dst_path)

            def retarget(p: str) -> str:
                # manifests may carry the staging path in RELATIVE form
                # (clone() writes whatever prefix it was given) — rewriting
                # only the absolute form would leave relative-dst clones
                # pointing at the renamed-away staging dir
                for src_pfx, dst_pfx in ((staging_abs, dst_abs), (staging, dst_path)):
                    if p.startswith(src_pfx):
                        return dst_pfx + p[len(src_pfx):]
                return p

            for name in self.table_names():
                log_dir = os.path.join(staging, name, "_commitlog")
                for fn in os.listdir(log_dir):
                    if not fn.endswith(".json") or fn.startswith("_tmp"):
                        continue
                    fp = os.path.join(log_dir, fn)
                    with open(fp) as f:
                        m = json.load(f)
                    if "dir" in m:
                        m["dir"] = retarget(m["dir"])
                    for op in m.get("ops", []):
                        op["dir"] = retarget(op["dir"])
                    with open(fp, "w") as f:
                        json.dump(m, f)
            os.rename(staging, dst_path)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return Database(self.spark, dst_path, config=self.config)

    def snapshot_pin(self, max_retries: int = 5) -> dict[str, int]:
        """A mutually consistent read point: {table: latest_csn} such that
        every committed group is either fully inside or fully outside the
        pin. The naive per-table latest_csn loop is NOT atomic — a group
        commit landing between two of its reads would be half-included
        (table A pinned before its member csn, table B after) — so the pin
        is VALIDATED against the group membership recorded in the member
        manifests and retried on a torn cut. With bounded commit
        concurrency this converges immediately (the reference's analog is
        pinning read_committed_csn from a single atomic,
        system/instance.rs:88-99; here the 'atomic' is validate-and-retry over
        immutable files)."""
        for _ in range(max_retries):
            pins = {n: self.table(n).latest_csn() for n in self.table_names()}
            if self._pin_is_consistent(pins):
                return pins
        raise ConflictError(
            "snapshot_pin: could not capture a consistent cross-table pin "
            f"after {max_retries} attempts (group-commit storm); retry later"
        )

    def _pin_is_consistent(self, pins: dict[str, int]) -> bool:
        """True iff no group that is (or may yet become) committed straddles
        the pin. For every group id seen in any member manifest:

        - PENDING (marker absent or undecided, grace not yet expired) with
          any member at csn <= pin -> INCONSISTENT: the group may commit
          right after validation with further members landing ABOVE the
          pin, producing the half-visible cut this check exists to prevent
          (the member list is only complete once the marker publishes, so
          a pending group's straddle is undecidable — retry the pin).
        - ABORTED (decided, or force-aborted past the grace window by this
          very resolution) -> invisible, ignore.
        - COMMITTED -> every member manifest exists (claims all precede the
          marker), so the straddle test is exact: members at csn <= pin and
          members at csn > pin must not BOTH be non-empty."""
        from db_core_spark.plans.versioned import resolve_group_status

        members: dict[str, list[tuple[str, int, float]]] = {}
        groups: dict[str, dict] = {}
        for n in pins:
            t = self.table(n)
            for m in t._manifests():
                g = m.get("group")
                if g is not None:
                    members.setdefault(g["id"], []).append(
                        (n, m["csn"], m.get("ts", 0.0))
                    )
                    groups[g["id"]] = g
        grace = self.config.group_pending_grace_seconds
        for gid, mem in members.items():
            # non-blocking peek (wait=False): validation must not sit out a
            # coordinator's grace window — indecision is itself the answer
            # (retry the pin). Resolved once per group at the NEWEST member
            # ts: claims land in sequence, so an older member's ts crossing
            # the deadline must not force-abort a group whose latest claim
            # is still fresh.
            newest_ts = max(ts for _, _, ts in mem)
            status = resolve_group_status(
                groups[gid], newest_ts, grace, wait=False
            )
            if status == "pending":
                if any(c <= pins[n] for n, c, _ in mem):
                    return False  # undecidable straddle — retry the pin
                continue  # entirely above the pin: invisible either way
            if status != "committed":
                continue  # aborted: invisible
            inside = sum(1 for n, c, _ in mem if c <= pins[n])
            if 0 < inside < len(mem):
                return False
        return True

    def vacuum_groups(self, retain_seconds: float | None = None) -> int:
        """Reclaim group marker files no longer referenced by any live
        manifest of any table in the database AND older than the retention
        window. A marker must outlive every manifest that points at it:
        deleting a still-referenced committed marker would make readers
        treat the group as pending and force-abort it — so referenced gids
        are never touched, regardless of age."""
        if retain_seconds is None:
            retain_seconds = self.config.version_retain_seconds
        live: set[str] = set()
        for n in self.table_names():
            t = self.table(n)
            for m in t._manifests():
                g = m.get("group")
                if g is not None:
                    live.add(g["id"])
        cutoff = time.time() - retain_seconds
        removed = 0
        for f in os.listdir(self.group_dir):
            if not f.endswith(".json"):
                continue
            gid = f[:-5]
            p = os.path.join(self.group_dir, f)
            if gid in live or os.path.getmtime(p) >= cutoff:
                continue
            os.remove(p)
            removed += 1
        return removed


class GroupTransaction:
    """One atomic transaction across several tables of a Database. Per-table
    ops (upsert/delete_keys/merge/read) delegate to a private per-table
    Transaction, so read-your-own-writes and conflict semantics are
    inherited unchanged; only the commit point is shared."""

    def __init__(self, db: Database):
        self.db = db
        self.gid = "g" + uuid.uuid4().hex[:16]
        self._txns: dict[str, Transaction] = {}
        self._pins: dict[str, int] | None = None
        self._done = False

    def txn(self, name: str) -> Transaction:
        """The per-table sub-transaction. ALL member snapshots pin together
        (validated cross-table cut via Database.snapshot_pin) at the first
        touch — per-table lazy pinning could straddle a concurrent group
        commit and read half of it, the same torn cut snapshot_pin guards
        against (system/instance.rs:88-99 pins from one atomic; the group analog
        must pin one CUT)."""
        self._check_open()
        if name not in self._txns:
            if self._pins is None:
                self._pins = self.db.snapshot_pin()
            self._txns[name] = self.db.table(name).begin(at_csn=self._pins[name])
        return self._txns[name]

    # ------------------------------------------------------------- op sugar

    def upsert(self, name: str, df: DataFrame) -> None:
        self.txn(name).upsert(df)

    def delete_keys(self, name: str, keys) -> None:
        self.txn(name).delete_keys(keys)

    def merge(self, name: str, source: DataFrame, **kwargs) -> None:
        self.txn(name).merge(source, **kwargs)

    def read(self, name: str) -> DataFrame:
        return self.txn(name).read()

    # --------------------------------------------------------------- commit

    def commit(self, extra: dict | None = None) -> dict[str, int]:
        """Atomically commit every touched table; returns {table: csn}.
        Raises ConflictError (whole group aborted, no table's data visible)
        if any table's optimistic check fails — retry the group.

        ``extra`` merges into every per-table manifest — the streaming sink
        passes (writer, epoch) identity through it so a replayed
        micro-batch is detectable on ANY touched table (group atomicity
        makes one table's marker proof for all)."""
        self._check_open()
        self._done = True
        touched = {n: t for n, t in self._txns.items() if t._ops}
        for t in touched.values():
            t._done = True
        if not touched:
            return {}
        if len(touched) == 1:
            # degenerate group: a single-table commit IS already atomic;
            # skip the marker round-trip entirely
            (name, txn), = touched.items()
            try:
                return {name: txn._claim(txn._stage(), extra=extra)}
            except BaseException:
                txn._discard_staged()  # failed commit leaves no orphans
                raise
        # 1. STAGE everything before claiming anything: a conflict found
        # while staging table k must not leave tables 1..k-1 published
        try:
            staged = {n: t._stage() for n, t in touched.items()}
        except BaseException:
            # staging table k failed: discard tables 1..k-1's (and k's
            # partial) staged files — nothing was claimed yet
            for t in touched.values():
                t._discard_staged()
            raise
        group_field = {"dir": self.db.group_dir, "id": self.gid}
        claimed: dict[str, int] = {}
        try:
            # 2. CLAIM per-table csns; manifests carry the group field and
            # are invisible until the marker decides
            for name, txn in touched.items():
                claimed[name] = txn._claim(
                    staged[name], extra=extra, group=group_field
                )
        except Exception:
            # 3a. DECIDE: abort. Already-claimed manifests stay as empty
            # commits; never-claimed tables just delete their staged files.
            # The marker write may ITSELF fail (same dying storage that
            # killed the claim) — swallow that: readers force-abort the
            # undecided group after the grace window anyway, and the staged
            # cleanup below must still run (never-claimed staging is
            # referenced by nothing; only vacuum would ever reclaim it).
            try:
                publish_manifest(
                    self.db.group_dir, f"{self.gid}.json",
                    {"status": "aborted", "ts": time.time(), "by": "coordinator"},
                )
            except Exception:  # noqa: BLE001
                pass
            for name, txn in touched.items():
                if name not in claimed:
                    shutil.rmtree(
                        os.path.join(txn.table._data_dir, f"tsn={txn.tsn}"),
                        ignore_errors=True,
                    )
            raise
        # 3b. DECIDE: commit — the single atomic publish for the whole group
        if not publish_manifest(
            self.db.group_dir, f"{self.gid}.json",
            {"status": "committed", "ts": time.time(), "by": "coordinator"},
        ):
            # lost the decide race: a reader force-aborted us (we exceeded
            # the pending grace window). The abort is immutable — honor it.
            with open(os.path.join(self.db.group_dir, f"{self.gid}.json")) as f:
                status = json.load(f)["status"]
            if status != "committed":
                raise ConflictError(
                    f"group {self.gid}: force-aborted by a reader after exceeding "
                    "the pending grace window; retry the group"
                )
        return claimed

    def rollback(self) -> None:
        """Discard all staged files across tables; nothing was published."""
        self._check_open()
        self._done = True
        for txn in self._txns.values():
            if not txn._done:
                txn.rollback()

    def _check_open(self) -> None:
        if self._done:
            raise RuntimeError("group transaction already committed or rolled back")
