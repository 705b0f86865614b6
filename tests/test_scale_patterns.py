"""Scale-pattern tests: salted joins (skew), bucketed co-located joins
(shuffle elimination) — correctness here, plan-shape assertions where the
pattern's whole point is the plan."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from db_core_spark.operators.skew import salted_join
from db_core_spark.tables import table
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_equals_plain_join(spark):
    li = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey").groupBy("l_orderkey").count()
    salted = salted_join(li, o, "l_orderkey", salt_buckets=4).groupBy("l_orderkey").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_preserves_unmatched(spark):
    c = table(spark, SF_SMALL, "customer").select(F.col("c_custkey").alias("k"), "c_name")
    o = table(spark, SF_SMALL, "orders").select(F.col("o_custkey").alias("k"), "o_orderkey")
    plain = c.join(o, "k", "left")
    salted = salted_join(c, o, "k", salt_buckets=4, how="left")
    assert plain.count() == salted.count()
    assert (
        plain.filter(F.col("o_orderkey").isNull()).count()
        == salted.filter(F.col("o_orderkey").isNull()).count()
    )


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Co-located bucketed tables join without an Exchange — the physical
    layout that makes repeated 100 TB joins on the same key affordable."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        li = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
        o = table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
            "li_bkt"
        )
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
            "o_bkt"
        )
        j = spark.table("li_bkt").join(
            spark.table("o_bkt"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        p = plan_of(j)
        assert "Exchange" not in p, f"bucketed join still shuffles:\n{p}"
        # and it's still correct
        n = j.count()
        expect = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert n == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS o_bkt")


def test_hll_sketch_merge_identity_and_accuracy(spark):
    """union of per-group HLL sketches must estimate the same cardinality
    as one whole-table sketch, and both within 5% of exact."""
    from pyspark.sql import functions as F

    from db_core_spark.tables import table
    from tests.conftest import SF_MED

    o = table(spark, SF_MED, "orders")
    exact = o.select("o_custkey").distinct().count()
    whole = o.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e")
    ).collect()[0].e
    merged = (
        o.groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]
        .e
    )
    # union-of-parts and one-pass sketches agree to sketch precision (they
    # are not bit-identical: sparse->dense promotion differs by build order)
    assert abs(whole - merged) / exact < 0.01
    assert abs(whole - exact) / exact < 0.05
    assert abs(merged - exact) / exact < 0.05


# bucket ids (B=64) of _GOLDEN_ROWS as the JVM crc32 expression of the
# canonical key string placed them on disk, dumped once from that
# expression; every table written since keeps this placement
_GOLDEN_BUCKETS = [
    40, 16, 30, 0, 61, 20, 2, 14, 23, 53, 63, 21, 6, 44, 43, 50, 30, 7, 46, 60,
    58, 38, 61, 16, 39, 52, 35, 41, 30, 63, 61, 10, 15, 2, 36, 20, 41, 12, 45, 58,
    48, 15, 9, 16, 23, 3, 3, 59, 13, 26, 43, 19, 56, 30, 17, 23, 32, 37, 61, 5,
    23, 39, 24, 45, 25, 38, 39, 25, 37, 54, 45, 30, 2, 12, 26, 13, 53, 32, 22, 44,
    19, 38, 56, 56, 10, 10, 32, 45, 62, 9, 60, 28, 9, 19, 45, 54, 46, 49, 38, 25,
    14, 17, 39, 15, 20, 43, 19, 15, 33, 18, 43, 8, 63, 55, 61, 54, 57, 43, 29, 30,
    42, 7, 33, 5, 4, 24, 26, 54, 39, 21, 47, 16, 0, 45, 57, 22, 9, 17, 41, 59,
    18, 6, 62, 24, 56, 26, 23, 36, 41, 2, 14, 16, 40, 17, 57, 14, 45, 32, 11, 12,
    9, 8, 59, 56, 38, 44, 31, 56, 36, 52, 61, 19, 30, 14, 55, 15, 43, 26, 7, 5,
    10, 18, 14, 27, 28, 60, 2, 12, 56, 30, 19, 45, 0, 57, 16, 15, 40, 47, 36, 32,
    5, 4, 51, 38, 9, 61, 59,
]


def _golden_rows():
    import datetime as dt

    return [
        (0, "a", True, dt.datetime(2020, 1, 1, 0, 0, 0)),
        (-1, "", False, dt.datetime(2020, 1, 1, 12, 34, 56, 789000)),
        (2**62, "héllo wörld", True, dt.datetime(1999, 12, 31, 23, 59, 59)),
        (-(2**62), "x" * 500, False, dt.datetime(2024, 2, 29, 6, 7, 8, 123456)),
        (42, None, None, None),
        (7, "None", True, dt.datetime(1970, 1, 1)),
        (8, "tab\tand\nnewline", False, dt.datetime(2030, 6, 15, 1, 2, 3)),
    ] + [
        (i * 7919, f"key_{i}", i % 2 == 0, dt.datetime(2021, 1, 1) + dt.timedelta(hours=i))
        for i in range(200)
    ]


def test_bucket_hash_golden_pin():
    """bucket_of_py, the one bucket hash, places every key where the
    tables already on disk have it: ids pinned over ints (incl.
    negatives/extremes), strings (unicode, NUL-adjacent, 'None'), NULLs,
    booleans and timestamps (with and without a fraction) — elementwise
    through bucket_of_py and column-wise through bucket_ids, whose
    timestamp columns are tz-aware UTC in every op file."""
    import pyarrow as pa

    from db_core_spark.plans.versioned import bucket_ids, bucket_of_py

    rows = _golden_rows()
    assert [bucket_of_py(list(r), 64) for r in rows] == _GOLDEN_BUCKETS
    tbl = pa.Table.from_arrays(
        [pa.array(list(c)) for c in zip(*rows)], names=["a", "b", "c", "d"]
    )
    utc = tbl.set_column(3, "d", tbl.column("d").cast(pa.timestamp("us", tz="UTC")))
    # the same rows at a non-zero array offset, and split over chunks
    padded = pa.concat_tables([tbl.slice(0, 3), tbl]).combine_chunks()
    sliced = padded.slice(3)
    assert sliced.column("b").chunk(0).offset == 3
    chunked = pa.concat_tables([tbl.slice(0, 5), tbl.slice(5, 100), tbl.slice(105)])
    assert chunked.column("b").num_chunks == 3
    for t in (tbl, utc, sliced, chunked):
        assert bucket_ids(t, ["a", "b", "c", "d"], 64).to_pylist() == _GOLDEN_BUCKETS


def _agreement_columns(n: int) -> dict:
    """Key columns of ``n`` rows across the types a key may have, each with
    NULLs: strings holding 'None', '' and non-ASCII text, every integer
    width, booleans, timestamps, doubles with NaN and -0.0, and dates."""
    import datetime as dt
    import random

    import pyarrow as pa

    rnd = random.Random(17)

    def nulls(values):
        return [None if rnd.random() < 0.1 else v for v in values]

    words = ["None", "", "a", "héllo wörld", "日本語キー", "tab\tnul", "x" * 70, "🙂"]
    cols = {
        "s": pa.array(nulls(rnd.choice(words) + rnd.choice(words) for _ in range(n))),
        "no_null": pa.array([rnd.choice(words) for _ in range(n)]),
        "ls": pa.array(nulls(rnd.choice(words) for _ in range(n)), pa.large_string()),
        "bool": pa.array(nulls(rnd.random() < 0.5 for _ in range(n))),
        "ts": pa.array(
            nulls(dt.datetime(2000, 1, 1) + dt.timedelta(microseconds=rnd.randrange(10**15))
                  for _ in range(n)),
            pa.timestamp("us"),
        ),
        "dbl": pa.array(
            nulls(rnd.choice([float("nan"), -0.0, 0.0, 1e308, -2.5, rnd.random()])
                  for _ in range(n)),
            pa.float64(),
        ),
        "date": pa.array(
            nulls(dt.date(1960, 1, 1) + dt.timedelta(days=rnd.randrange(40000)) for _ in range(n)),
            pa.date32(),
        ),
    }
    for t in (pa.int8(), pa.int16(), pa.int32(), pa.int64(),
              pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64()):
        bits = t.bit_width
        lo, hi = (-(2 ** (bits - 1)), 2 ** (bits - 1) - 1) if pa.types.is_signed_integer(t) else (
            0, 2**bits - 1)
        cols[str(t)] = pa.array(
            nulls(rnd.choice([lo, hi, 0, rnd.randint(lo, hi)]) for _ in range(n)), t
        )
    return cols


def test_bucket_ids_agree_with_bucket_of_py():
    """bucket_ids, vectorised over the table, gives every row the id
    bucket_of_py gives its key: one column at a time, and multi-column keys
    (where a NULL and 'None' canonicalise alike)."""
    import zlib

    import pyarrow as pa

    from db_core_spark.plans.versioned import _crc32_rows, bucket_ids, bucket_of_py

    full = pa.table(_agreement_columns(3000))
    keys = [[c] for c in full.column_names] + [
        ["s", "int64"],
        ["ls", "s", "bool"],
        ["uint64", "ts", "date", "dbl"],
        full.column_names,
    ]
    # a slice: arrays at a non-zero offset
    for tbl in (full, full.slice(7, 2000)):
        rows = tbl.to_pylist()
        for cols in keys:
            want = [bucket_of_py([r[c] for c in cols], 61) for r in rows]
            assert bucket_ids(tbl, cols, 61).to_pylist() == want, cols
    # the hash itself over an array at a non-zero offset
    arr = pa.array(["x", "héllo", "", "None"] * 50, pa.large_string()).slice(3)
    assert _crc32_rows(arr).tolist() == [zlib.crc32(v.encode()) for v in arr.to_pylist()]
    # NULL next to 'None': the same canonical string, so the same bucket
    pair = pa.table({"a": pa.array([None, "None", ""]), "b": pa.array(["None", None, None])})
    ids = bucket_ids(pair, ["a", "b"], 1 << 30).to_pylist()
    assert ids[0] == ids[1] != ids[2]


def test_bucket_ids_of_a_long_key_cost_what_zlib_costs():
    """One 1 MB key among short ones hashes in well under 2 s: a key longer
    than the column-wise byte positions finishes through zlib.crc32."""
    import time

    import pyarrow as pa

    from db_core_spark.plans.versioned import bucket_ids, bucket_of_py

    keys = [f"k{i}" for i in range(1000)]
    keys.insert(500, "é" * (1 << 19))
    tbl = pa.table({"k": keys})
    t0 = time.perf_counter()
    got = bucket_ids(tbl, ["k"], 1 << 20).to_pylist()
    assert time.perf_counter() - t0 < 2.0
    assert got == [bucket_of_py([k], 1 << 20) for k in keys]


def test_pareto_distributed_rank_matches_global_window(spark):
    """pareto_revenue_concentration's two-pass distributed rank must emit
    exactly the rows a naive global-window formulation produces."""
    from db_core_spark.registry import all_queries
    from db_core_spark.tables import table
    from pyspark.sql import Window as W, functions as F

    got = {
        r.ventile: (r.n_customers, r.revenue, r.cum_share)
        for r in all_queries()["pareto_revenue_concentration"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    o = table(spark, SF_SMALL, "orders")
    li = table(spark, SF_SMALL, "lineitem")
    cr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    n = cr.count()
    wg = W.orderBy(F.col("revenue").desc(), F.col("custkey"))
    v = (
        cr.withColumn("rk", F.row_number().over(wg))
        .withColumn("ventile", (((F.col("rk") - 1) * 20) / F.lit(n)).cast("int"))
        .groupBy("ventile")
        .agg(F.sum("revenue").alias("rev"), F.count(F.lit(1)).alias("n_customers"))
    )
    tot = v.agg(F.sum("rev").alias("total")).collect()[0].total
    wv = W.orderBy("ventile").rowsBetween(W.unboundedPreceding, W.currentRow)
    expect = {
        r.ventile: (r.n_customers, r.revenue, r.cum_share)
        for r in v.select(
            "ventile",
            "n_customers",
            F.round(F.col("rev"), 2).alias("revenue"),
            F.round(F.sum("rev").over(wv) / F.lit(tot), 6).alias("cum_share"),
        ).collect()
    }
    assert got == expect


def test_aqe_skew_join_splits_hot_partition(spark):
    """The non-salting answer to key skew: AQE's runtime skew-join split.
    Build a join where one key carries ~90% of the left side, force skewed
    sort-merge execution with thresholds scaled to the tiny fixture, and
    assert (a) the result is exactly the plain join and (b) the FINAL
    adaptive plan actually marked the sort-merge join as skew-handled —
    proving the knob the 100 TB deployment relies on does engage, not just
    that it is configured."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.shuffle.partitions", "8")
        left = (
            spark.range(0, 40000)
            .select(
                F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 97)
                .alias("k"),
                F.col("id").alias("payload"),
            )
        )
        right = spark.range(0, 97).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = left.join(right, "k")
        # execute THIS dataframe (count() would execute a different plan
        # whose AQE result we could not inspect)
        rows = joined.collect()
        # correctness: every left row matches exactly one right row
        assert len(rows) == 40000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, "AQE did not mark the join skew-handled"
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_observe_inline_metrics_single_pass(spark):
    """Inline data-quality metrics via df.observe: null/row counters ride
    the SAME job as the real aggregation — one scan, no second
    metrics-only pass (the observability shape a 100 TB pipeline needs;
    a separate DQ scan doubles the read bill)."""
    from pyspark.sql import Observation

    li = table(spark, SF_SMALL, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )
    result = observed.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")).collect()
    assert result
    got = obs.get
    assert got["rows_seen"] == li.count()
    assert got["null_qty"] == 0
    assert got["max_price"] > 0


def test_cbo_table_stats_flow_into_plan_estimates(spark, tmp_path):
    """Cost-based optimization plumbing: ANALYZE TABLE writes row-count /
    size statistics into the catalog and the optimizer's plan estimates
    pick them up — the prerequisite for stats-driven join ordering and
    broadcast decisions on a real warehouse (fixtures are read straight
    from parquet elsewhere, so this is the one place catalog stats are
    exercised)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS cbo_t LOCATION '{tmp_path}/wh'")
    saved_cbo = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        table(spark, SF_SMALL, "orders").limit(500).write.mode("overwrite").saveAsTable(
            "cbo_t.orders_s"
        )
        spark.sql("ANALYZE TABLE cbo_t.orders_s COMPUTE STATISTICS")
        row = spark.sql("DESCRIBE EXTENDED cbo_t.orders_s").filter(
            F.col("col_name") == "Statistics"
        ).collect()
        assert row and "rows" in row[0].data_type, row
        est = (
            spark.table("cbo_t.orders_s")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert est.rowCount().isDefined() and est.rowCount().get() == 500
        assert est.sizeInBytes() > 0
    finally:
        spark.conf.set("spark.sql.cbo.enabled", saved_cbo)
        spark.sql("DROP DATABASE IF EXISTS cbo_t CASCADE")


def test_salted_join_random_parity_row_exact(spark):
    """Row-exact parity vs the plain join on random data with duplicate
    keys on BOTH sides (fan-out joins) and unmatched keys, inner and
    left — the salt must replicate the small side exactly once per salt
    bucket, never duplicating or dropping a fan-out row."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    kv = st.tuples(st.integers(0, 3), st.integers(0, 9))

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[
            HealthCheck.function_scoped_fixture, HealthCheck.too_slow
        ],
    )
    @given(
        lrows=st.lists(kv, min_size=1, max_size=6),
        rrows=st.lists(kv, min_size=0, max_size=6),
        how=st.sampled_from(["inner", "left"]),
    )
    def check(lrows, rrows, how):
        big = spark.createDataFrame(lrows, "k long, a long")
        small = spark.createDataFrame(rrows, "k long, b long") if rrows else (
            spark.createDataFrame([], "k long, b long")
        )
        plain = sorted(
            map(tuple, big.join(small, "k", how).select("k", "a", "b").collect())
        )
        salted = sorted(
            map(
                tuple,
                salted_join(big, small, "k", salt_buckets=3, how=how)
                .select("k", "a", "b")
                .collect(),
            )
        )
        assert salted == plain

    check()


def test_headline_queries_are_partition_invariant(spark):
    """Every headline bench query must give the IDENTICAL answer under a
    hostile partitioning regime (3 shuffle partitions, 256 KB input splits)
    as under the tuned defaults — the in-suite guard for the full-registry
    sweep in tools/partition_invariance.py. Any operator whose result
    depends on partition count/ordering (a mapPartitions accumulator, a
    prefix sum assuming one partition, a split-boundary-tied sample) flips
    between regimes and fails here before it ships."""
    from bench import HEADLINE
    from db_core_spark.registry import all_queries

    sf_dir = "/root/testdata/sf0.001"
    qs = all_queries()
    knobs = {
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.files.maxPartitionBytes": str(256 * 1024),
    }
    defaults = {k: spark.conf.get(k) for k in knobs}

    def canon(df):
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    bad = []
    for name in HEADLINE:
        try:
            a = canon(qs[name].fn(spark, sf_dir))
            for k, v in knobs.items():
                spark.conf.set(k, v)
            b = canon(qs[name].fn(spark, sf_dir))
        finally:
            for k, v in defaults.items():
                spark.conf.set(k, v)
        if a != b:
            bad.append(name)
    assert not bad, f"partition-sensitive results: {bad}"
