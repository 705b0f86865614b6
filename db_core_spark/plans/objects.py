"""ObjectStore — the reference's schema-less byte-stream object API
(create/open/read/seek/write/delete inside transactions,
/root/reference/src/system/instance.rs:126-210, 389-503) on top of
VersionedTable rows keyed (obj_id, chunk_no).

An object is a chunked byte stream: chunk k holds bytes
[k*chunk_size, (k+1)*chunk_size). seek(offset) is chunk arithmetic — a read
of [off, off+len) returns the covering chunks, mirroring the cursor walk of
block_driver.rs:530-586. write-at-offset is read-modify-write of the
affected chunks inside the transaction (write_ins semantics,
block_driver.rs:353-382), which becomes new row versions at commit. The
chunk rows are driver-built literal frames, so the commit writes them
in-process (Transaction._stage's LocalRelation path): one toArrow() job
per op and no Spark write job.

Committed reads (reader=None: read, read_at, length, read_snapshot) run no
Spark job: VersionedTable.lookup_table folds the object's one bucket
(bucket_cols=["obj_id"]) in the driver process and the bytes come straight
from that Arrow table — the reference's in-process version-chain walk
(block_driver.rs:461-486). A transaction with no buffered ops reads the
same way at its start csn; that covers the chunk listing put() and delete()
do before they stage anything. Once a transaction has buffered ops, its
reads go through Transaction.read() so they see its own writes.

Client reads return driver-side `bytes` — the reference API is a client
byte-copy loop (read_next into a buffer); bulk analytics over object payloads
should use VersionedTable.snapshot() directly as a DataFrame instead.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F, types as T

from db_core_spark.operators.litframe import literal_frame
from db_core_spark.plans.versioned import Transaction, VersionedTable

OBJECT_SCHEMA = T.StructType(
    [
        T.StructField("obj_id", T.LongType(), False),
        T.StructField("chunk_no", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


class ObjectStore:
    def __init__(self, table: VersionedTable, chunk_size: int = 4096):
        # 4096 mirrors the reference's default block size (datastore.rs:92-96)
        self.table = table
        self.chunk_size = chunk_size
        self.spark = table.spark

    @classmethod
    def create(cls, spark: SparkSession, path: str, chunk_size: int = 4096) -> "ObjectStore":
        # bucket by obj_id only: every chunk + version of one object lands
        # in a single bucket, so a read/seek of that object is a one-bucket
        # file listing — the per-object version-chain walk of the reference
        # (block_driver.rs:461-486) as physical layout
        vt = VersionedTable.create(
            spark, path, key_cols=["obj_id", "chunk_no"], schema=OBJECT_SCHEMA,
            bucket_cols=["obj_id"],
        )
        return cls(vt, chunk_size)

    @classmethod
    def open(cls, spark: SparkSession, path: str, chunk_size: int = 4096) -> "ObjectStore":
        return cls(VersionedTable.open(spark, path), chunk_size)

    def begin(self) -> Transaction:
        return self.table.begin()

    # ---------------------------------------------------------------- writes

    def _chunk_rows(self, obj_id: int, data: bytes, first_chunk: int = 0):
        cs = self.chunk_size
        return [
            (obj_id, first_chunk + i, bytes(data[i * cs : (i + 1) * cs]))
            for i in range((len(data) + cs - 1) // cs or 1)
        ]

    def put(self, txn: Transaction, obj_id: int, data: bytes) -> None:
        """Create/replace an object (open_create + write_next loop,
        system/instance.rs:173-187, 429-444). Replacing also tombstones chunks past
        the new end so a shorter rewrite truncates."""
        old = self._chunk_nos(txn, obj_id)
        rows = self._chunk_rows(obj_id, data)
        new_last = rows[-1][1]
        stale = [(obj_id, c) for c in old if c > new_last]
        if stale:
            txn.delete_keys([{"obj_id": o, "chunk_no": c} for o, c in stale])
        txn.upsert(literal_frame(self.spark, rows, OBJECT_SCHEMA))

    def write_at(self, txn: Transaction, obj_id: int, offset: int, data: bytes) -> None:
        """Overwrite bytes at offset (seek + write_next: write_ins overwrite
        then append, block_driver.rs:327-455). Read-modify-write of only the
        chunks the range [offset, offset+len) covers."""
        if not data:
            return
        cs = self.chunk_size
        first = offset // cs
        last = (offset + len(data) - 1) // cs
        chunks = self._chunks(txn, obj_id, first, last)
        # splice into the existing byte range of the covered chunks
        span = bytearray()
        for c in range(first, last + 1):
            span += chunks.get(c, b"")
        rel = offset - first * cs
        if rel > len(span):
            raise ValueError(
                f"write_at offset {offset} beyond object end (sparse objects unsupported)"
            )
        span[rel : rel + len(data)] = data
        new_rows = []
        for i, c in enumerate(range(first, last + 1)):
            piece = bytes(span[i * cs : (i + 1) * cs])
            if piece:
                new_rows.append((obj_id, c, piece))
        txn.upsert(literal_frame(self.spark, new_rows, OBJECT_SCHEMA))

    def append(self, txn: Transaction, obj_id: int, data: bytes) -> None:
        """Append at EOF (write_append, block_driver.rs:384-455)."""
        self.write_at(txn, obj_id, self.length(txn, obj_id), data)

    def delete(self, txn: Transaction, obj_id: int) -> None:
        """Tombstone every chunk (Instance::delete sets the deleted flag on
        all entries, system/instance.rs:191-210)."""
        chunks = self._chunk_nos(txn, obj_id)
        if chunks:
            txn.delete_keys([{"obj_id": obj_id, "chunk_no": c} for c in chunks])

    # ----------------------------------------------------------------- reads

    def read(self, reader, obj_id: int) -> bytes | None:
        """Full sequential read (read_next loop). `reader` is a Transaction
        (read-your-own-writes) or None (latest committed snapshot)."""
        return _concat(self._chunks(reader, obj_id))

    def read_at(self, reader, obj_id: int, offset: int, length: int) -> bytes | None:
        """seek(offset) + read(length) over the covering chunks
        (block_driver.rs:530-586). None if the object does not exist; a
        zero-length read of an existing object is b""."""
        if offset < 0 or length < 0:
            raise ValueError(f"read_at offset and length must be >= 0, got {offset}, {length}")
        if length == 0:
            return b"" if self._chunks(reader, obj_id) else None
        cs = self.chunk_size
        first, last = offset // cs, (offset + length - 1) // cs
        chunks = self._chunks(reader, obj_id, first, last)
        if not chunks:
            return None
        span = b"".join(chunks.get(c, b"") for c in range(first, last + 1))
        rel = offset - first * cs
        return span[rel : rel + length]

    def length(self, reader, obj_id: int) -> int:
        tbl = self._committed(reader, obj_id)
        if tbl is not None:
            return sum(map(len, _chunk_map(tbl).values()))
        df = reader.read().filter(F.col("obj_id") == obj_id)
        row = df.agg(F.sum(F.octet_length("payload")).alias("n")).collect()[0]
        return int(row.n or 0)

    def read_snapshot(self, obj_id: int, as_of_csn: int) -> bytes | None:
        """Historical read at an explicit csn (update_read_csn inverse —
        pin an OLD snapshot; system/instance.rs:378-387)."""
        return _concat(_chunk_map(self.table.lookup_table({"obj_id": obj_id}, as_of_csn)))

    # ------------------------------------------------------------- internals

    def _committed(self, reader, obj_id: int):
        """The object's rows as `reader` sees them, folded in-process as a
        pyarrow table — when that view is committed state: the latest
        snapshot for reader=None, the start snapshot for a transaction with
        no buffered ops. None for a transaction with buffered ops: only
        Transaction.read() layers those over the committed rows."""
        if reader is None:
            return self.table.lookup_table({"obj_id": obj_id})
        reader._check_open()
        if reader._ops:
            return None
        return self.table.lookup_table({"obj_id": obj_id}, reader.start_csn)

    def _chunks(self, reader, obj_id: int, first: int | None = None, last: int | None = None):
        """{chunk_no: payload} of one object, chunks first..last if given.
        Committed views fold the object's bucket in-process; a transaction
        with buffered ops reads through its DataFrame."""
        tbl = self._committed(reader, obj_id)
        if tbl is not None:
            chunks = _chunk_map(tbl)
            if first is None:
                return chunks
            return {c: p for c, p in chunks.items() if first <= c <= last}
        df = reader.read().filter(F.col("obj_id") == obj_id)
        if first is not None:
            df = df.filter((F.col("chunk_no") >= first) & (F.col("chunk_no") <= last))
        return {r.chunk_no: bytes(r.payload) for r in df.select("chunk_no", "payload").collect()}

    def _chunk_nos(self, txn: Transaction, obj_id: int) -> list[int]:
        """Chunk ids only — no payload bytes cross the wire. put()/delete()
        need just the id set; collecting payloads made a replace/delete
        O(object size) in driver memory for no reason."""
        tbl = self._committed(txn, obj_id)
        if tbl is not None:
            return tbl.column("chunk_no").to_pylist()
        df = txn.read().filter(F.col("obj_id") == obj_id)
        return [r.chunk_no for r in df.select("chunk_no").collect()]


def _chunk_map(tbl) -> dict[int, bytes]:
    return dict(zip(tbl.column("chunk_no").to_pylist(), tbl.column("payload").to_pylist()))


def _concat(chunks: dict[int, bytes]) -> bytes | None:
    """The object's bytes in chunk order; None if it has no chunks."""
    return b"".join(chunks[c] for c in sorted(chunks)) if chunks else None
