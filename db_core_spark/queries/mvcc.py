"""MVCC snapshot-visibility semantics expressed as oracle-checkable queries.

These mirror the reference's core read semantics
(/root/reference/src/storage/block_driver.rs:457-486: a reader at snapshot S
sees the newest version with csn <= S, unless the entry is deleted) using the
`orders` fixture as a deterministic version stream: key = o_custkey,
version number (csn) = o_orderkey (monotone), tombstone = o_orderstatus 'F'.
The full read/write/commit machinery lives in db_core_spark.plans.versioned;
these queries prove the *visibility rule* itself against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from db_core_spark.operators.litframe import literal_frame
from db_core_spark.registry import query
from db_core_spark.tables import table


@query(
    "mvcc_latest_per_key",
    oracle="""
    SELECT o_custkey AS key, o_orderkey AS csn, o_totalprice AS payload
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
      FROM orders)
    WHERE rn = 1
    """,
    category="mvcc",
)
def mvcc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest committed version per key (snapshot = +infinity). This window
    is exactly find_entry_version's 'newest visible version' resolution.
    At 100 TB this is the cost center — mitigations: bucket the table by key
    so the window shuffle is avoided, and periodically compact ('checkpoint')
    the latest versions (see plans/versioned.py vacuum)."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_orderkey").alias("csn"),
            F.col("o_totalprice").alias("payload"),
        )
    )


@query(
    "mvcc_snapshot_asof",
    oracle="""
    WITH versions AS (
      SELECT o_custkey AS key, o_orderkey AS csn, o_totalprice AS payload,
             (o_orderstatus = 'F') AS is_tombstone
      FROM orders WHERE o_orderkey <= 7500
    ), resolved AS (
      SELECT key, csn, payload, is_tombstone,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY csn DESC) AS rn
      FROM versions)
    SELECT key, csn, payload FROM resolved WHERE rn = 1 AND NOT is_tombstone
    """,
    category="mvcc",
)
def mvcc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot read AS OF csn=7500 with tombstones: filter csn <= S, resolve
    newest version per key, drop keys whose newest visible version is a
    delete — the complete visibility rule of block_driver.rs:457-486 plus
    tombstone semantics of Instance::delete (system/instance.rs:191-210)."""
    o = table(spark, sf_dir, "orders")
    versions = o.filter(F.col("o_orderkey") <= 7500).select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("csn"),
        F.col("o_totalprice").alias("payload"),
        (F.col("o_orderstatus") == "F").alias("is_tombstone"),
    )
    w = W.partitionBy("key").orderBy(F.col("csn").desc())
    return (
        versions.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.col("is_tombstone")))
        .select("key", "csn", "payload")
    )


@query(
    "versioned_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS key, MAX(o_orderkey) AS hi, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_custkey
    ), src AS (
      SELECT o_custkey AS key, MAX(o_orderkey) AS hi, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_custkey
    )
    SELECT b.key,
           CASE WHEN s.key IS NOT NULL AND s.hi > b.hi THEN s.hi ELSE b.hi END AS hi,
           CASE WHEN s.key IS NOT NULL AND s.hi > b.hi THEN s.n ELSE b.n END AS n
    FROM base b LEFT JOIN src s ON b.key = s.key
    UNION ALL
    SELECT s.key, s.hi, s.n
    FROM src s LEFT JOIN base b ON s.key = b.key
    WHERE b.key IS NULL
    """,
    category="mvcc",
)
def versioned_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (conditional upsert) end-to-end on a real VersionedTable:
    commit a base aggregate, then Transaction.merge() a second slice with
    matched_condition 'src.hi > tgt.hi' — matched keys update only when the
    source is newer, unseen keys insert, and the snapshot read returns the
    merged state. The oracle replays the same decision table relationally.
    Reference parity: conditional upsert layered on read-your-own-writes +
    optimistic commit (system/instance.rs:141-168 open_write + 102-111 commit);
    integer measures keep the condition bit-stable across engines."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans import VersionedTable

    o = table(spark, sf_dir, "orders")

    def agg_slice(mod: int) -> DataFrame:
        return (
            o.filter(F.col("o_orderkey") % mod == 0)
            .groupBy(F.col("o_custkey").alias("key"))
            .agg(F.max("o_orderkey").alias("hi"), F.count(F.lit(1)).alias("n"))
        )

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("hi", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    path = tempfile.mkdtemp(prefix="vt_merge_") + "/t"
    vt = VersionedTable.create(spark, path, key_cols=["key"], schema=schema)
    t0 = vt.begin()
    t0.upsert(agg_slice(2))
    t0.commit()
    t1 = vt.begin()
    t1.merge(agg_slice(3), matched_condition="src.hi > tgt.hi")
    t1.commit()
    return vt.snapshot()


@query(
    "mvcc_version_history",
    oracle="""
    SELECT o_custkey AS key,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           MIN(o_orderkey) AS first_csn,
           MAX(o_orderkey) AS last_csn,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones
    FROM orders GROUP BY o_custkey
    """,
    category="mvcc",
)
def mvcc_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-chain statistics per key — the bookkeeping a vacuum job
    (version_store.rs:264-309 reclamation) needs to decide what to reclaim."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.min("o_orderkey").alias("first_csn"),
        F.max("o_orderkey").alias("last_csn"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_tombstones"),
    )


@query(
    "versioned_point_lookup",
    oracle="""
    SELECT o_custkey AS key, MAX(o_orderkey) AS hi, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
    GROUP BY o_custkey
    """,
    category="mvcc",
)
def versioned_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-key read through the bucketed layout end-to-end: commit a
    per-customer aggregate into a fresh VersionedTable, then lookup() one
    key — which folds only that key's bucket=<b>/ files in the driver
    process and returns a local relation, so no Spark job runs (the
    per-object version-chain walk of block_driver.rs:461-486; pruning
    asserted in tests/test_plan_audits.py, the job count in
    tests/test_point_reads.py). The oracle recomputes the same row
    relationally."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans import VersionedTable

    o = table(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.max("o_orderkey").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("hi", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    path = tempfile.mkdtemp(prefix="vt_lookup_") + "/t"
    vt = VersionedTable.create(spark, path, key_cols=["key"], schema=schema)
    t0 = vt.begin()
    t0.upsert(agg)
    t0.commit()
    target = o.agg(F.min("o_custkey")).first()[0]
    return vt.lookup({"key": int(target)})


@query(
    "group_txn_two_tables",
    oracle="""
    SELECT 'evens' AS side, o_custkey AS key, MAX(o_orderkey) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_custkey
    UNION ALL
    SELECT 'odds' AS side, o_custkey AS key, MAX(o_orderkey) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_custkey
    """,
    category="mvcc",
)
def group_txn_two_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table group transaction end-to-end: ONE atomic commit spans two
    VersionedTables (plans/group.py — per-table manifests + a single
    group-marker publish, the Spark analog of the reference's one WAL
    commit record covering every object a txn wrote, system/instance.rs:102-111).
    After the good group commits, a second group CLAIMS manifests on both
    tables with poison rows but its coordinator 'crashes' before deciding;
    readers force-abort it after the grace window, so the poison must be
    invisible on BOTH tables. The oracle recomputes the committed state
    relationally — any leaked poison row or half-visible group breaks the
    hash."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.config import EngineConfig
    from db_core_spark.plans import Database

    o = table(spark, sf_dir, "orders")

    def slice_agg(parity: int) -> DataFrame:
        return (
            o.filter(F.col("o_orderkey") % 2 == parity)
            .groupBy(F.col("o_custkey").alias("key"))
            .agg(F.max("o_orderkey").alias("hi"), F.count(F.lit(1)).alias("n"))
        )

    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("hi", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    db = Database.create(
        spark,
        tempfile.mkdtemp(prefix="vt_group_") + "/db",
        config=EngineConfig(group_pending_grace_seconds=0.2),
    )
    db.create_table("evens", key_cols=["key"], schema=schema)
    db.create_table("odds", key_cols=["key"], schema=schema)
    g = db.begin()
    g.upsert("evens", slice_agg(0))
    g.upsert("odds", slice_agg(1))
    g.commit()
    # a second group claims manifests on both tables, then its coordinator
    # dies before publishing the marker: readers must force-abort it
    poison = literal_frame(spark, [(-1, -1, -1)], schema)
    dead = db.begin()
    dead.upsert("evens", poison)
    dead.upsert("odds", poison)
    for name, txn in dead._txns.items():
        ops_meta = txn._stage()
        txn._done = True
        txn._claim(ops_meta, group={"dir": db.group_dir, "id": dead.gid})
    dead._done = True
    evens = db.table("evens").snapshot().withColumn("side", F.lit("evens"))
    odds = db.table("odds").snapshot().withColumn("side", F.lit("odds"))
    return evens.unionByName(odds).select("side", "key", "hi", "n")


@query(
    "mvcc_scd2_intervals",
    oracle="""
    SELECT o_custkey AS key,
           o_orderkey AS valid_from_csn,
           LEAD(o_orderkey) OVER w AS valid_to_csn,
           o_totalprice AS payload,
           (o_orderstatus = 'F') AS is_delete,
           (LEAD(o_orderkey) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
    category="mvcc",
)
def mvcc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 view of a version stream: each
    version becomes a validity interval [csn, next_csn) with the newest
    open-ended (is_current) — the warehouse-facing shape of the MVCC chain
    (block_driver.rs:457-486 walks these intervals newest-first; SCD2
    materializes them all so any as-of question becomes a BETWEEN filter,
    no window at read time). One lead() pass over the same key-partitioned
    shuffle the visibility queries use; tombstones close their interval
    with is_delete so downstream joins can exclude dead spans."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    nxt = F.lead("o_orderkey").over(w)
    return o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("valid_from_csn"),
        nxt.alias("valid_to_csn"),
        F.col("o_totalprice").alias("payload"),
        (F.col("o_orderstatus") == "F").alias("is_delete"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "versioned_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS key, o_totalprice AS price, o_orderstatus AS status
      FROM orders WHERE o_custkey < 300),
    ins AS (SELECT * FROM base WHERE key % 5 = 0 AND key % 7 != 0),
    upd AS (SELECT * FROM base WHERE key % 3 = 0 AND key % 5 != 0 AND key % 7 != 0),
    del AS (SELECT * FROM base WHERE key % 7 = 0 AND key % 5 != 0)
    SELECT key, 'insert' AS _change,
           CAST(NULL AS DOUBLE) AS old_price, CAST(NULL AS VARCHAR) AS old_status,
           price AS new_price, status AS new_status
    FROM ins
    UNION ALL
    SELECT key, 'update', price, status, price + 100, status FROM upd
    UNION ALL
    SELECT key, 'delete', price, status, NULL, NULL FROM del
    """,
    category="mvcc",
)
def versioned_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel DIFF between two resolved snapshots (VersionedTable.diff):
    one row per key whose state changed between csn A and B, tagged
    insert/update/delete with old/new value pairs — the audit answer to
    "what changed between yesterday's version and now". Unlike the CDC feed
    (every intermediate commit), diff compares only the two resolved
    endpoints. Shape: two zero-exchange bucketed snapshot reads + one
    full-outer join on the key. The oracle recomputes the expected change
    set relationally from the same source slices."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans import VersionedTable

    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_custkey") < 300).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    k = F.col("key")
    schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("status", T.StringType()),
        ]
    )
    vt = VersionedTable.create(
        spark, tempfile.mkdtemp(prefix="vt_diff_") + "/t", key_cols=["key"], schema=schema
    )
    t1 = vt.begin()
    t1.upsert(base.filter(~((k % 5 == 0) & (k % 7 != 0))))  # v2's inserts absent
    csn1 = t1.commit()
    t2 = vt.begin()
    t2.upsert(base.filter((k % 5 == 0) & (k % 7 != 0)))  # inserts
    t2.upsert(  # updates: price bump on surviving %3 keys
        base.filter((k % 3 == 0) & (k % 5 != 0) & (k % 7 != 0)).withColumn(
            "price", F.col("price") + 100
        )
    )
    t2.delete_keys(base.filter((k % 7 == 0) & (k % 5 != 0)).select("key"))
    csn2 = t2.commit()
    return vt.diff(csn1, csn2).select(
        "key", "_change", "old_price", "old_status", "new_price", "new_status"
    )


@query(
    "versioned_clone_divergence",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS key, o_totalprice AS price
      FROM orders WHERE o_custkey < 200),
    src AS (SELECT key, price FROM base WHERE key % 4 <> 0),
    cl AS (SELECT key,
                  CASE WHEN key % 3 = 0 THEN price + 50 ELSE price END AS price
           FROM base)
    SELECT COALESCE(s.key, c.key) AS key,
           ROUND(s.price, 2) AS src_price,
           ROUND(c.price, 2) AS clone_price,
           CASE WHEN s.key IS NULL THEN 'clone_only'
                WHEN s.price = c.price THEN 'same'
                ELSE 'diverged' END AS relation
    FROM src s FULL OUTER JOIN cl c ON s.key = c.key
    """,
    category="mvcc",
)
def versioned_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy shallow clone (VersionedTable.clone) proven end-to-end:
    seed a table from the orders slice, hard-link-clone it, then write to
    BOTH sides — price bumps on the clone, deletes on the source — and
    full-outer-join the two final snapshots. The oracle recomputes both
    end states relationally from the same slice, so a green row means the
    clone (a) started bit-equal to the source snapshot and (b) diverged
    with zero interference in either direction. Clone cost is O(files)
    hard links — no data bytes move; both snapshot reads stay the
    zero-exchange bucketed resolution."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans import VersionedTable

    o = table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_custkey") < 200).select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price")
    )
    k = F.col("key")
    schema = T.StructType(
        [T.StructField("key", T.LongType()), T.StructField("price", T.DoubleType())]
    )
    root = tempfile.mkdtemp(prefix="vt_clone_")
    vt = VersionedTable.create(spark, root + "/src", key_cols=["key"], schema=schema)
    t1 = vt.begin()
    t1.upsert(base)
    t1.commit()
    c = vt.clone(root + "/clone")
    tc = c.begin()
    tc.upsert(base.filter(k % 3 == 0).withColumn("price", F.col("price") + 50))
    tc.commit()
    ts = vt.begin()
    ts.delete_keys(base.filter(k % 4 == 0).select("key"))
    ts.commit()
    s = vt.snapshot().select("key", F.col("price").alias("src_price"))
    cl = c.snapshot().select(F.col("key").alias("c_key"), F.col("price").alias("clone_price"))
    return (
        s.join(cl, s["key"] == cl["c_key"], "full_outer")
        .select(
            F.coalesce(F.col("key"), F.col("c_key")).alias("key"),
            F.round("src_price", 2).alias("src_price"),
            F.round("clone_price", 2).alias("clone_price"),
            F.when(F.col("key").isNull(), "clone_only")
            .when(F.col("src_price") == F.col("clone_price"), "same")
            .otherwise("diverged")
            .alias("relation"),
        )
    )


@query(
    "versioned_view_masked_sql",
    oracle="""
    WITH loaded AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey < 400),
    kept AS (SELECT * FROM loaded WHERE c_acctbal >= 0)
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT masked) AS BIGINT) AS n_masked,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM (SELECT *, regexp_replace(c_name, '[0-9]', 'x', 'g') AS masked
          FROM kept)
    GROUP BY 1
    """,
    category="mvcc",
)
def versioned_view_masked_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog views + SQL-text path end-to-end: a customer slice commits
    into a Database table, negative-balance rows are expired via
    expire_rows (row-level retention through the txn path), a PERSISTED
    masked view (digits scrubbed from names) is created with
    db.create_view, and the final report runs as SQL TEXT over that view
    via db.sql() — catalog metadata, governed projection, and Catalyst
    planning in one path. The oracle recomputes the same report
    relationally from the fixture, so a view that leaked expired rows or
    unmasked names breaks the hash.

    Engine surface exercised: Database.sql (temp-view registration over
    live snapshots), create_view (persisted catalog), expire_rows
    (tombstones via txn; plans/versioned.py), snapshot fold."""
    import tempfile

    from db_core_spark.plans import Database

    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400).select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    db = Database.create(spark, tempfile.mkdtemp(prefix="vt_view_") + "/db")
    db.create_table("cust", key_cols=["c_custkey"], schema=c.schema)
    g = db.begin()
    g.upsert("cust", c)
    g.commit()
    db.table("cust").expire_rows("c_acctbal < 0")
    db.create_view(
        "cust_masked",
        "SELECT c_custkey, regexp_replace(c_name, '[0-9]', 'x') AS masked, "
        "c_mktsegment, c_acctbal FROM cust",
    )
    return db.sql(
        """
        SELECT c_mktsegment AS segment,
               COUNT(*) AS n,
               COUNT(DISTINCT masked) AS n_masked,
               ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM cust_masked
        GROUP BY c_mktsegment
        """
    )


@query(
    "versioned_branch_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price
      FROM orders WHERE o_orderkey < 3000),
    merged AS (
      SELECT k, st,
             CASE WHEN k % 5 = 0 THEN price + 1000.0   -- main's change kept
                  WHEN k % 5 = 1 THEN price * 2.0      -- branch's change merged
                  ELSE price END AS price
      FROM base
      WHERE k % 5 <> 2)                                -- branch's delete merged
    SELECT st,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(price), 2) AS total_price
    FROM merged
    GROUP BY st
    """,
    category="mvcc",
)
def versioned_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch-merge workflow end-to-end (plans/versioned.py merge_from):
    an orders slice commits to main, a zero-copy clone forks it, the two
    sides diverge on DISJOINT keys (main bumps k%5==0 prices, the branch
    doubles k%5==1 and deletes k%5==2), and merge_from folds the branch
    back in one atomic conflict-checked commit — main's own change,
    both branch changes, and the branch delete must all survive. The
    oracle recomputes the merged state relationally, so a merge that
    dropped, duplicated, or resurrected a key breaks the hash. In-line
    assert pins the merge report (applied/deleted/conflicts) too."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans.versioned import VersionedTable

    base = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 3000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
            F.col("o_totalprice").alias("price"),
        )
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("st", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="vt_branch_")
    main = VersionedTable.create(spark, root + "/main", key_cols=["k"], schema=schema)
    t = main.begin()
    t.upsert(base)
    t.commit()
    br = main.clone(root + "/branch")
    t = main.begin()
    t.upsert(
        base.filter(F.col("k") % 5 == 0).withColumn("price", F.col("price") + 1000.0)
    )
    t.commit()
    t = br.begin()
    t.upsert(
        base.filter(F.col("k") % 5 == 1).withColumn("price", F.col("price") * 2.0)
    )
    t.commit()
    t = br.begin()
    t.delete_keys(base.filter(F.col("k") % 5 == 2).select("k"))
    t.commit()
    report = main.merge_from(br)
    if report["conflicts"] != 0 or report["deleted"] == 0 or report["applied"] == 0:
        raise AssertionError(f"unexpected merge report: {report}")
    return (
        main.snapshot()
        .groupBy("st")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).alias("total_price"),
        )
    )


@query(
    "versioned_commit_audit",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'txn',        3, 0),
      (2, 'txn',        2, 1),
      (3, 'bulk',       4, 0),
      (3, 'checkpoint', 0, 0),
      (4, 'txn',        1, 1)
    ) AS t(csn, commit_kind, n_upserts, n_deletes)
    """,
    category="mvcc",
)
def versioned_commit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit log AS A TABLE — who wrote what, when, how: a
    deterministic history (two txns with upserts/deletes, one DataSource
    bulk append, a checkpoint, one more txn) is replayed onto a fresh
    table and the audit query folds its manifests into (csn, kind,
    upsert-rows, delete-rows). This is the observability surface every
    governed deployment needs (change auditing, write attribution,
    compaction accounting) — and the literal Spark rendering of the
    reference's WAL inspection (/root/reference/src/log_mgr/io.rs:254-441
    reads records back by lsn exactly like this folds manifests by csn).
    The oracle pins the expected ledger as VALUES — any drift in commit
    accounting (a lost op, a miscounted delete, a mislabeled checkpoint)
    breaks the hash."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.sources.versioned_datasource import register

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, tempfile.mkdtemp(prefix="vt_audit_") + "/t",
        key_cols=["k"], schema=schema,
    )
    t = vt.begin()
    t.upsert(literal_frame(spark, [(1, 10), (2, 20), (3, 30)], schema))
    t.commit()
    t = vt.begin()
    t.upsert(literal_frame(spark, [(4, 40), (5, 50)], schema))
    t.delete_keys([(1,)])
    t.commit()
    register(spark)
    (
        literal_frame(spark, [(6, 60), (7, 70), (8, 80), (9, 90)], schema)
        .coalesce(1)
        .write.format("versioned")
        .mode("append")
        .option("path", vt.path)
        .save()
    )
    vt.checkpoint()
    t = vt.begin()
    t.delete_keys([(6,)])
    t.upsert(literal_frame(spark, [(2, 22)], schema))
    t.commit()

    import pyarrow.dataset as pads

    out = []
    for m in vt._manifests():
        if m.get("type") == "checkpoint":
            out.append((m["csn"], "checkpoint", 0, 0))
            continue
        # bulk-append manifests (VersionedAppendWriter) record a claimed
        # "rows" field; txn manifests do not
        kind = "bulk" if m.get("rows") is not None else "txn"
        n_up = n_del = 0
        for op in m.get("ops", []):
            # count rows from the op's physical parts: the audit reports
            # truth from storage, not the manifest's claim
            d = pads.dataset(op["dir"], format="parquet").to_table(
                columns=["_deleted"]
            )
            dl = sum(1 for x in d.column("_deleted").to_pylist() if x)
            n_up += len(d) - dl
            n_del += dl
        out.append((m["csn"], kind, n_up, n_del))
    return literal_frame(
        spark, out, "csn int, commit_kind string, n_upserts int, n_deletes int"
    )


@query(
    "versioned_schema_evolution",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'pre_alter',  3, 3, 0),
      (2, 'post_alter', 5, 3, 2)
    ) AS t(phase_no, phase, n_rows, n_null_region, n_with_region)
    """,
    category="mvcc",
)
def versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end: rows commit under the original schema,
    alter_add_column widens it, more rows commit WITH the new column, and
    both the pre-alter time-travel snapshot and the current snapshot are
    audited — old rows must read back with the new column NULL (never a
    read error, never a rewrite), the Delta-style latest-schema-governs
    contract (plans/versioned.py alter_add_column; the reference's
    schema-less analog is clients reinterpreting bytes at will,
    /root/reference/src/system/instance.rs:141-187). The oracle pins the audit
    as VALUES: row counts and null/with-value splits per phase."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans.versioned import VersionedTable

    s1 = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, tempfile.mkdtemp(prefix="vt_evo_") + "/t", key_cols=["k"], schema=s1
    )
    t = vt.begin()
    t.upsert(literal_frame(spark, [(1, 10), (2, 20), (3, 30)], s1))
    t.commit()
    pre_csn = vt.latest_csn()
    vt.alter_add_column("region", T.StringType())
    s2 = vt.schema
    t = vt.begin()
    t.upsert(literal_frame(spark, [(4, 40, "emea"), (5, 50, "apac")], s2))
    t.commit()

    def audit(df, phase_no, phase):
        # one aggregation job instead of two full counts (r11)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("region").isNull(), 1)).alias("n_null"),
        ).first()
        return (phase_no, phase, row.n, row.n_null, row.n - row.n_null)

    rows = [
        audit(vt.snapshot(as_of_csn=pre_csn), 1, "pre_alter"),
        audit(vt.snapshot(), 2, "post_alter"),
    ]
    return literal_frame(
        spark,
        rows,
        "phase_no int, phase string, n_rows long, n_null_region long, "
        "n_with_region long",
    )


@query(
    "versioned_restore_rebucket",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'initial',        4, 0),
      (2, 'after_damage',   2, 2),
      (3, 'after_restore',  4, 0),
      (4, 'after_rebucket', 4, 0)
    ) AS t(phase_no, phase, n_rows, n_deleted_keys)
    """,
    category="mvcc",
)
def versioned_restore_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE + layout migration end-to-end: commit 4 rows, 'damage' the
    table (delete 2, overwrite 1), restore(as_of) resurrects the original
    state AS A NEW COMMIT (append-only undo — history including the
    damage stays time-travelable), then rebucket() migrates the physical
    layout 4 -> 8 buckets and the data must read identically through the
    mixed-layout reader and a point lookup. The audit (row count +
    tombstoned-key count per phase) is VALUES-pinned; any resurrection
    miss, phantom tombstone, or migration row loss breaks the hash.

    Reference parity: restore = checkpoint-restore resurrecting earlier
    state (/root/reference/src/storage/block_driver.rs:604-621); rebucket
    has no reference analog (physical layout is Spark-side) and is the
    live-migration path SURVEY §2B documents."""
    import tempfile

    from pyspark.sql import types as T

    from db_core_spark.plans.versioned import VersionedTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, tempfile.mkdtemp(prefix="vt_rr_") + "/t",
        key_cols=["k"], schema=schema, num_buckets=4,
    )
    t = vt.begin()
    t.upsert(literal_frame(spark, [(i, i * 10) for i in range(1, 5)], schema))
    t.commit()
    good_csn = vt.latest_csn()

    def phase(no, name):
        # ONE aggregation job per phase (r11): the per-key resolution that
        # snapshot() + the tombstone anti-join each re-derived is computed
        # once — newest version per key (max_by over the (csn, opseq)
        # total order) plus an any-tombstone flag — and both audit counts
        # come back in a single collect. Values identical by the
        # visibility rule: snapshot rows = keys whose newest version is
        # live; tombstoned keys = keys with a delete in history whose
        # newest version is the delete (a key whose newest version is
        # live is in the snapshot and was never counted).
        hist = vt.history()
        row = (
            hist.groupBy("k")
            .agg(
                F.max_by("_deleted", F.struct("_csn", "_opseq")).alias("newest_del"),
                F.max(F.col("_deleted").cast("int")).alias("any_del"),
            )
            .agg(
                F.count(F.when(~F.col("newest_del"), 1)).alias("n"),
                F.count(
                    F.when(F.col("newest_del") & (F.col("any_del") == 1), 1)
                ).alias("n_del"),
            )
            .first()
        )
        return (no, name, row.n, row.n_del)

    rows = [phase(1, "initial")]
    t = vt.begin()
    t.delete_keys([(1,)])
    t.commit()
    t = vt.begin()
    t.delete_keys([(2,)])
    t.upsert(literal_frame(spark, [(3, 999)], schema))
    t.commit()
    rows.append(phase(2, "after_damage"))
    vt.restore(good_csn)
    rows.append(phase(3, "after_restore"))
    vt.rebucket(8)
    if {(r.k, r.v) for r in vt.snapshot().collect()} != {
        (i, i * 10) for i in range(1, 5)
    }:
        raise AssertionError("rebucket changed visible data")
    if [r.v for r in vt.lookup({"k": 3}).collect()] != [30]:
        raise AssertionError("post-migration point lookup wrong")
    rows.append(phase(4, "after_rebucket"))
    return literal_frame(
        spark, rows, "phase_no int, phase string, n_rows long, n_deleted_keys long"
    )
