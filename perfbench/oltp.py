"""``versioned_oltp``: a seeded transactional mix on one ``VersionedTable``
and one ``ObjectStore``, one client in a closed loop.

One cycle is: ``SMALL_TXNS`` small transactions (``SMALL_ROWS`` upserts, half
updates and half inserts; every other one also deletes ``SMALL_DELETES``
keys), each followed by one point ``lookup`` (present and absent keys in
turn); one ``BULK_ROWS`` bulk commit; one full ``snapshot()`` scan; and
``OBJECT_OPS`` each of ``put`` + commit, ``read`` and ``read_at`` on 16-64 KB
objects. ``maybe_checkpoint()`` runs after every commit at the engine's
default threshold. Keys and values are random strings, so parquet cannot
compress them away.

Every lookup, scan and object read is compared with an in-memory model
outside the timed interval. At the end the tables are reopened with
``VersionedTable.open`` and the last acknowledged commit of each must be the
newest published one, with the full contents matching the model.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from measure import geomean, summary, tree_files

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)
KEY_LEN, VAL_LEN = 16, 48
INITIAL_ROWS = 150_000
BULK_ROWS = 50_000
SMALL_ROWS, SMALL_DELETES, SMALL_TXNS = 10, 2, 4
OBJECTS, OBJECT_OPS = 4, 1
OBJ_MIN, OBJ_MAX = 16 << 10, 64 << 10
TRACE_CYCLES = 3
OP_TYPES = ["commit", "bulk_commit", "lookup", "scan", "object_write", "object_read", "object_read_at"]
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)


def _strings(rng, n: int, length: int) -> list[str]:
    codes = _ALPHABET[rng.integers(0, len(_ALPHABET), (n, length))]
    return codes.view(f"S{length}").ravel().astype(str).tolist()


def _row_bytes(k: str, v: str) -> int:
    return len(k) + len(v) + 8


class Store:
    """The tables under test plus the client-side model of their contents."""

    def __init__(self, spark, path: str, seed: int, tracer):
        from db_core_spark.plans.objects import ObjectStore
        from db_core_spark.plans.versioned import VersionedTable

        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.kv_path = os.path.join(path, "kv")
        self.obj_path = os.path.join(path, "objects")
        self.kv = VersionedTable.create(spark, self.kv_path, ["k"], SCHEMA)
        self.objects = ObjectStore.create(spark, self.obj_path)
        self.rows: dict[str, tuple[str, int]] = {}
        self.keys: list[str] = []
        self.blobs: dict[int, bytes] = {}
        self.acked = {"kv": 0, "objects": 0}
        self.user_bytes = 0
        self.latency: dict[str, list[float]] = {op: [] for op in OP_TYPES}
        self.lookup_deltas: list[tuple[int, float]] = []
        self.checkpoint_s: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.cycle = 0

    # ----------------------------------------------------------- helpers

    def _rng(self, *salt) -> np.random.Generator:
        return np.random.default_rng([self.seed, self.cycle, *salt])

    def _frame(self, keys: list[str], vals: list[str], ns):
        pdf = pd.DataFrame({"k": keys, "v": vals, "n": np.asarray(ns, dtype=np.int64)})
        return self.spark.createDataFrame(pdf, SCHEMA)

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def _record(self, op: str, dt: float) -> None:
        self.latency[op].append(dt)

    def _commit(self, table, txn, name: str) -> None:
        tr = self.tracer
        with tr.span("commit"):
            csn = txn.commit()
        with tr.span("maybe_checkpoint") as sp:
            t0 = time.perf_counter()
            ck = table.maybe_checkpoint()
            if ck:
                self.checkpoint_s.append(time.perf_counter() - t0)
                if sp is not None:
                    sp["checkpoint"] = True
        self.acked[name] = csn

    # ---------------------------------------------------------- operations

    def load(self, n: int, rng, op: str | None) -> None:
        keys = _strings(rng, n, KEY_LEN)
        vals = _strings(rng, n, VAL_LEN)
        ns = rng.integers(0, 1 << 40, n)
        df = self._frame(keys, vals, ns)
        t0 = time.perf_counter()
        with self.tracer.op(op or "load"):
            with self.tracer.span("begin"):
                txn = self.kv.begin()
            with self.tracer.span("upsert"):
                txn.upsert(df)
            self._commit(self.kv, txn, "kv")
        if op:
            self._record(op, time.perf_counter() - t0)
        for k, v, x in zip(keys, vals, ns.tolist()):
            if k not in self.rows:
                self.keys.append(k)
            self.rows[k] = (v, x)
            self.user_bytes += _row_bytes(k, v)

    def small_commit(self, i: int) -> None:
        rng = self._rng(1, i)
        picks = rng.choice(len(self.keys), SMALL_ROWS // 2 + SMALL_DELETES, replace=False)
        upd = [self.keys[j] for j in picks[: SMALL_ROWS // 2]]
        keys = upd + _strings(rng, SMALL_ROWS - len(upd), KEY_LEN)
        vals = _strings(rng, len(keys), VAL_LEN)
        ns = rng.integers(0, 1 << 40, len(keys))
        dels = [self.keys[j] for j in picks[SMALL_ROWS // 2 :]] if i % 2 else []
        df = self._frame(keys, vals, ns)
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.op("commit"):
            with tr.span("begin"):
                txn = self.kv.begin()
            with tr.span("upsert"):
                txn.upsert(df)
            if dels:
                with tr.span("delete_keys"):
                    txn.delete_keys([{"k": k} for k in dels])
            self._commit(self.kv, txn, "kv")
        self._record("commit", time.perf_counter() - t0)
        for k, v, x in zip(keys, vals, ns.tolist()):
            if k not in self.rows:
                self.keys.append(k)
            self.rows[k] = (v, x)
            self.user_bytes += _row_bytes(k, v)
        for k in dels:
            del self.rows[k]
            self.user_bytes += len(k)
        if dels:
            self.keys = [k for k in self.keys if k in self.rows]

    def lookup(self, i: int) -> None:
        rng = self._rng(2, i)
        if i % 2 == 0:
            key = self.keys[int(rng.integers(0, len(self.keys)))]
        else:
            key = "#" + _strings(rng, 1, KEY_LEN - 1)[0]  # '#' never occurs in keys
        deltas = self.kv.deltas_since_checkpoint()
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.op("lookup", deltas=deltas):
            with tr.span("build"):
                df = self.kv.lookup({"k": key})
            with tr.span("action"):
                got = [(r.k, r.v, r.n) for r in df.collect()]
        dt = time.perf_counter() - t0
        self._record("lookup", dt)
        self.lookup_deltas.append((deltas, dt))
        want = [(key, *self.rows[key])] if key in self.rows else []
        self._check(got == want, f"lookup {key}: got {got[:2]}, want {want}")

    def _checksum_frame(self, df):
        return df.agg(
            F.count("*").alias("c"),
            F.sum("n").alias("s"),
            F.sum(F.crc32(F.concat("k", "v"))).alias("h"),
        )

    def model_checksum(self) -> tuple[int, int, int]:
        return (
            len(self.rows),
            sum(x for _, x in self.rows.values()),
            sum(zlib.crc32((k + v).encode()) for k, (v, _) in self.rows.items()),
        )

    def scan(self) -> None:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.op("scan"):
            with tr.span("build"):
                df = self._checksum_frame(self.kv.snapshot())
            with tr.span("action"):
                row = df.collect()[0]
        self._record("scan", time.perf_counter() - t0)
        got = (row.c, row.s or 0, row.h or 0)
        want = self.model_checksum()
        self._check(got == want, f"scan checksum {got} != model {want}")

    def object_write(self, i: int) -> None:
        rng = self._rng(3, i)
        obj = int(rng.integers(0, OBJECTS))
        data = rng.bytes(int(rng.integers(OBJ_MIN, OBJ_MAX + 1)))
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.op("object_write"):
            with tr.span("begin"):
                txn = self.objects.begin()
            with tr.span("put"):
                self.objects.put(txn, obj, data)
            self._commit(self.objects.table, txn, "objects")
        self._record("object_write", time.perf_counter() - t0)
        self.blobs[obj] = data
        self.user_bytes += len(data)

    def object_read(self, i: int) -> None:
        rng = self._rng(4, i)
        obj = sorted(self.blobs)[int(rng.integers(0, len(self.blobs)))]
        t0 = time.perf_counter()
        with self.tracer.op("object_read"):
            got = self.objects.read(None, obj)
        self._record("object_read", time.perf_counter() - t0)
        self._check(got == self.blobs[obj], f"object {obj}: read differs from model")

    def object_read_at(self, i: int) -> None:
        rng = self._rng(5, i)
        obj = sorted(self.blobs)[int(rng.integers(0, len(self.blobs)))]
        blob = self.blobs[obj]
        length = int(rng.integers(4 << 10, 12 << 10))
        offset = int(rng.integers(0, len(blob) - length))
        t0 = time.perf_counter()
        with self.tracer.op("object_read_at"):
            got = self.objects.read_at(None, obj, offset, length)
        self._record("object_read_at", time.perf_counter() - t0)
        self._check(
            got == blob[offset : offset + length], f"object {obj}@{offset}+{length}: differs"
        )

    def populate(self, n_rows: int = INITIAL_ROWS, n_objects: int = OBJECTS) -> None:
        """Initial rows and objects (not timed as workload operations)."""
        rng = np.random.default_rng([self.seed, 0xB00])
        self.load(n_rows, rng, None)
        txn = self.objects.begin()
        for obj in range(n_objects):
            data = rng.bytes(int(rng.integers(OBJ_MIN, OBJ_MAX + 1)))
            self.objects.put(txn, obj, data)
            self.blobs[obj] = data
            self.user_bytes += len(data)
        self.acked["objects"] = txn.commit()

    def cycle_ops(self):
        """The operations of the next cycle, in order, as callables."""
        self.cycle += 1
        for i in range(SMALL_TXNS):
            yield lambda i=i: self.small_commit(i)
            yield lambda i=i: self.lookup(i)
        yield lambda: self.load(BULK_ROWS, self._rng(6), "bulk_commit")
        yield self.scan
        for i in range(OBJECT_OPS):
            yield lambda i=i: self.object_write(i)
            yield lambda i=i: self.object_read(i)
            yield lambda i=i: self.object_read_at(i)

    def run_cycle(self) -> None:
        for op in self.cycle_ops():
            op()

    def verify_reopened(self) -> None:
        """Reopen both tables from their published manifests and check that
        every acknowledged commit is there and the contents match."""
        from db_core_spark.plans.objects import ObjectStore
        from db_core_spark.plans.versioned import VersionedTable

        kv = VersionedTable.open(self.spark, self.kv_path)
        self._check(
            kv.latest_csn() == self.acked["kv"],
            f"kv reopened at csn {kv.latest_csn()}, last acknowledged {self.acked['kv']}",
        )
        row = self._checksum_frame(kv.snapshot()).collect()[0]
        got, want = (row.c, row.s or 0, row.h or 0), self.model_checksum()
        self._check(got == want, f"reopened kv checksum {got} != model {want}")
        objects = ObjectStore.open(self.spark, self.obj_path)
        self._check(
            objects.table.latest_csn() == self.acked["objects"],
            f"objects reopened at csn {objects.table.latest_csn()}, "
            f"last acknowledged {self.acked['objects']}",
        )
        chunks = objects.table.snapshot().select("obj_id", "chunk_no", "payload").collect()
        blobs: dict[int, list] = {}
        for r in chunks:
            blobs.setdefault(r.obj_id, []).append((r.chunk_no, bytes(r.payload)))
        got_blobs = {o: b"".join(p for _, p in sorted(cs)) for o, cs in blobs.items()}
        self._check(got_blobs == self.blobs, "reopened objects differ from model")

    def disk_bytes(self) -> int:
        return sum(tree_files(self.kv_path).values()) + sum(tree_files(self.obj_path).values())

    def live_bytes(self) -> int:
        return self.kv.stats()["live_bytes"] + self.objects.table.stats()["live_bytes"]


def storage_written(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Bytes and files of the files that appeared between two listings."""
    out = {"data": 0, "checkpoint": 0, "manifest": 0, "files": 0}
    for p, size in after.items():
        if p in before and before[p] == size:
            continue
        out["files"] += 1
        if f"{os.sep}_commitlog{os.sep}" in p:
            out["manifest"] += size
        elif f"{os.sep}checkpoint-" in p:
            out["checkpoint"] += size
        else:
            out["data"] += size
    return out


def _listing(store: Store) -> dict[str, int]:
    return {**tree_files(store.kv_path), **tree_files(store.obj_path)}


def _warm_up(ctx, spark) -> Store:
    """Pay the session's one-time costs on a throwaway store: the first
    versioned-DataSource call, parquet writers, Python workers."""
    store = Store(spark, os.path.join(ctx.work, "oltp-warm"), ctx.seed + 10_000, ctx.no_tracer())
    store.populate(2_000, 2)
    store.cycle = 1
    store.small_commit(1)
    store.lookup(0)
    store.lookup(1)
    store.scan()
    store.object_write(0)
    store.object_read(0)
    store.object_read_at(0)
    shutil.rmtree(os.path.join(ctx.work, "oltp-warm"), ignore_errors=True)
    return store


def run(ctx) -> dict:
    spark, _ = ctx.start_session()
    t0 = time.perf_counter()
    stores = [_warm_up(ctx, spark)]
    if not ctx.trace:
        store = Store(spark, os.path.join(ctx.work, "oltp"), ctx.seed, ctx.no_tracer())
        stores.append(store)
        store.populate()
        ctx.mark_setup()
        before = _listing(store)
        user0 = store.user_bytes
        # whole cycles, at least one: a cycle cut short would tilt the
        # medians towards its first operations (in a fast run, an extra
        # small commit without deletes pulled the commit median down)
        t0 = time.perf_counter()
        store.run_cycle()
        while time.perf_counter() - t0 < ctx.seconds:
            store.run_cycle()
        written = storage_written(before, _listing(store))
        medians = [summary(store.latency[op])["median"] for op in OP_TYPES]
        metrics = {"op_set_s": sum(medians)}
        detail = {
            "cycles": store.cycle,
            "op_geomean_s": geomean(medians),
            "per_op_s": {op: summary(store.latency[op]) for op in OP_TYPES},
            "checkpoint_s": store.checkpoint_s,
            "bytes_per_user_byte": sum(written[c] for c in ("data", "checkpoint", "manifest"))
            / (store.user_bytes - user0),
        }
    else:
        ctx.mark_setup()
        # The untraced twin runs only the start of the traced sequence (load and
        # first cycle, same seed); the overhead compares that shared part.
        walls = []
        for make_tracer, cycles in ((ctx.no_tracer, 1), (ctx.tracer, TRACE_CYCLES)):
            tracer = make_tracer()
            store = Store(spark, os.path.join(ctx.work, "oltp"), ctx.seed, tracer)
            stores.append(store)
            before = _listing(store)
            t1 = time.perf_counter()
            store.populate()
            store.run_cycle()
            walls.append(time.perf_counter() - t1)
            for _ in range(cycles - 1):
                store.run_cycle()
        written = storage_written(before, _listing(store))
        metrics = ctx.layer_metrics(tracer, walls[1] - walls[0])
        metrics["op_geomean_s"] = geomean(
            [summary(store.latency[op])["median"] for op in OP_TYPES]
        )
        for kind, name in (
            ("commit", "versioned.commit_jobs"),
            ("lookup", "versioned.lookup_jobs"),
            ("scan", "versioned.scan_jobs"),
            ("object_read", "objects.read_jobs"),
            ("object_write", "objects.write_jobs"),
        ):
            ops = tracer.ops(kind)
            metrics[name] = sum(s["counts"]["jobs"] for s in ops) / len(ops)
        metrics["versioned.checkpoints"] = sum(1 for s in tracer.spans if s.get("checkpoint"))
        metrics["storage.data_bytes_written"] = written["data"]
        metrics["storage.checkpoint_bytes_written"] = written["checkpoint"]
        metrics["storage.manifest_bytes_written"] = written["manifest"]
        metrics["storage.files_written"] = written["files"]
        metrics["storage.bytes_per_user_byte"] = (
            written["data"] + written["checkpoint"] + written["manifest"]
        ) / store.user_bytes
        metrics["storage.space_amp"] = store.disk_bytes() / store.live_bytes()
        # halves of the checkpoint interval (engine default: every 16 commits)
        lo = [dt for d, dt in store.lookup_deltas if d < 8]
        hi = [dt for d, dt in store.lookup_deltas if d >= 8]
        detail = {
            "trace_cycles": TRACE_CYCLES,
            "untraced_wall_s": walls[0],
            "traced_wall_s": walls[1],
            "lookup_s.deltas_lo": summary(lo) if lo else None,
            "lookup_s.deltas_hi": summary(hi) if hi else None,
            "checkpoint_s": store.checkpoint_s,
            "per_op_traced_s": {op: summary(store.latency[op]) for op in OP_TYPES},
        }
    store.verify_reopened()
    detail["failures"] = [f for s in stores for f in s.failures]
    return {
        "attempted": sum(s.attempted + sum(map(len, s.latency.values())) for s in stores),
        "failed": len(detail["failures"]),
        "metrics": metrics,
        "detail": detail,
    }
