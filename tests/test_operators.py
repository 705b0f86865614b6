"""Tests for composite operators: as-of join and the multimodal binary
pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_core_spark.operators.asof import asof_join
from db_core_spark.operators.multimodal import decode_binary_features
from db_core_spark.tables import table
from tests.conftest import SF_SMALL


def test_asof_join_basic_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 10)], "k long, t long"
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, 8, 100), (1, 15, 200), (1, 20, 300), (3, 1, 999)], "k long, t long, v long"
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = asof_join(
        left, right.withColumnRenamed("t", "rt"), on="k",
        left_time="t", right_time="rt", payload_cols=["v"], tie_break="v",
    )
    got = {(r.k, r.t.second if r.t.second else int(r.t.timestamp())): r.v for r in out.collect()}
    vals = {(r.k, int(r.t.timestamp())): r.v for r in out.collect()}
    assert vals[(1, 10)] == 100   # newest right at t<=10 is t=8
    assert vals[(1, 20)] == 300   # equal timestamp included (<=)
    assert vals[(1, 5)] is None   # nothing before t=5
    assert vals[(2, 10)] is None  # key with no right rows


def test_multimodal_pipeline_fake_decode(spark):
    d = table(spark, SF_SMALL, "documents").limit(50)
    binary_df = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("modality"),
    )
    feats = decode_binary_features(binary_df, fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert r.n_bytes > 0
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert 1 <= r.n_frames <= 4
    # deterministic: same input -> same checksum on rerun
    again = {r.doc_id: r.checksum for r in decode_binary_features(binary_df).collect()}
    assert again == {r.doc_id: r.checksum for r in rows}


def test_multimodal_decode_stub_raises_without_fake(spark):
    d = table(spark, SF_SMALL, "documents").limit(2)
    binary_df = d.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"), F.lit("image").alias("modality")
    )
    with pytest.raises(Exception, match="NotImplementedError|codecs not available"):
        decode_binary_features(binary_df, fake_decode=False).collect()


def test_frame_sample_fanout_counts(spark):
    """sample_frames emits exactly ceil(k/2) rows per doc where
    k = 1 + n_bytes % 8, and frame lengths partition the payload."""
    from db_core_spark.operators.multimodal import sample_frames
    from db_core_spark.tables import table
    from tests.conftest import SF_SMALL

    d = table(spark, SF_SMALL, "documents").filter(F.col("doc_id") <= 20)
    src = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    out = sample_frames(src, stride=2)
    per_doc = {r.doc_id: r.cnt for r in
               out.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    sizes = {r.doc_id: r.n for r in
             d.select("doc_id", F.octet_length(F.encode("text", "UTF-8")).alias("n")).collect()}
    assert per_doc, "no output rows"
    for doc_id, n in sizes.items():
        k = 1 + n % 8
        assert per_doc[doc_id] == (k + 1) // 2


def test_resize_stub_dims_and_truncation(spark):
    """resize_images caps out_n_bytes at out_w*out_h and reports fixed
    output dims."""
    from db_core_spark.operators.multimodal import resize_images
    from db_core_spark.tables import table
    from tests.conftest import SF_SMALL

    d = table(spark, SF_SMALL, "documents").filter(F.col("doc_id") <= 20)
    src = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    rows = resize_images(src, out_w=8, out_h=8).collect()
    assert rows
    for r in rows:
        assert (r.out_w, r.out_h) == (8, 8)
        assert r.out_n_bytes <= 64


def test_asof_join_forward_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 25), (2, 10)], "k long, t long"
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, 8, 100), (1, 15, 200), (1, 20, 300), (3, 1, 999)], "k long, t long, v long"
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = asof_join(
        left, right.withColumnRenamed("t", "rt"), on="k",
        left_time="t", right_time="rt", payload_cols=["v"], tie_break="v",
        direction="forward",
    )
    vals = {(r.k, int(r.t.timestamp())): r.v for r in out.collect()}
    assert vals[(1, 10)] == 200   # earliest right at t>=10 is t=15
    assert vals[(1, 20)] == 300   # equal timestamp included (>=)
    assert vals[(1, 25)] is None  # nothing after t=25
    assert vals[(2, 10)] is None  # key with no right rows


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check against pandas' reference implementation on a pseudo-
    random dataset (seeded): both directions, many keys, duplicate left
    times, right times outside the left range."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(42)
    left_pd = pd.DataFrame(
        {
            "k": rng.randint(0, 20, 400),
            "t": rng.randint(0, 1000, 400).astype("datetime64[s]"),
        }
    )
    right_pd = pd.DataFrame(
        {
            "k": rng.randint(0, 25, 300),
            "rt": rng.randint(-100, 1100, 300).astype("datetime64[s]"),
            "v": np.arange(300, dtype="int64"),
        }
    )
    # unique (k, rt) so the as-of match is unambiguous without tie-breaks
    right_pd = right_pd.drop_duplicates(["k", "rt"])
    left = spark.createDataFrame(left_pd.assign(idx=np.arange(400, dtype="int64")))
    right = spark.createDataFrame(right_pd)
    for direction in ("backward", "forward"):
        got = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            payload_cols=["v"], tie_break="v", direction=direction,
        ).toPandas().sort_values("idx").reset_index(drop=True)
        want = pd.merge_asof(
            left_pd.assign(idx=np.arange(400)).sort_values("t"),
            right_pd.sort_values("rt"),
            left_on="t", right_on="rt", by="k", direction=direction,
        ).sort_values("idx").reset_index(drop=True)
        assert (
            got["v"].astype("float64").fillna(-1).tolist()
            == want["v"].astype("float64").fillna(-1).tolist()
        ), f"direction={direction} diverges from pandas merge_asof"


def test_asof_join_string_tie_break(spark):
    """Non-numeric tie-break columns order natively (a long-cast would NULL
    them out and make the winner arbitrary): at equal right times the
    lexically largest id wins backward, smallest wins forward."""
    left = spark.createDataFrame([(1, 10)], "k long, t long").withColumn(
        "t", F.col("t").cast("timestamp")
    )
    right = spark.createDataFrame(
        [(1, 8, "id_b", 100), (1, 8, "id_a", 200), (1, 12, "id_z", 300), (1, 12, "id_c", 400)],
        "k long, rt long, rid string, v long",
    ).withColumn("rt", F.col("rt").cast("timestamp"))
    back = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        payload_cols=["rid", "v"], tie_break="rid",
    ).collect()[0]
    assert (back.rid, back.v) == ("id_b", 100)  # largest rid at rt=8
    fwd = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        payload_cols=["rid", "v"], tie_break="rid", direction="forward",
    ).collect()[0]
    assert (fwd.rid, fwd.v) == ("id_c", 400)  # smallest rid at rt=12


class TestAsofNearestProperty:
    """Model-based check of asof_join_nearest: on random (key, time) data the
    operator must match a brute-force nearest-with-tolerance reference,
    including the tie rules (equal distance -> backward; equal time ->
    largest tie-break)."""

    def _brute(self, lefts, rights, tol):
        out = {}
        for lk, lt, lid in lefts:
            best = None
            for rk, rt, rid, rv in rights:
                if rk != lk:
                    continue
                d = abs(rt - lt)
                if d > tol:
                    continue
                if best is None:
                    best = (d, rt, -rid, rv)
                    continue
                cand = (d, rt, -rid, rv)
                # smaller distance wins; then earlier time (backward); then
                # larger id (backward tie rule at equal times)
                if cand[:3] < best[:3]:
                    best = cand
            out[(lk, lid)] = (best[0], best[3]) if best else (None, None)
        return out

    def test_random_nearest_matches_brute_force(self, spark):
        from hypothesis import HealthCheck, given, settings, strategies as st

        from db_core_spark.operators.asof import asof_join_nearest

        import pyspark.sql.functions as F  # noqa: F401

        times = st.integers(min_value=0, max_value=50)
        keys = st.integers(min_value=0, max_value=2)
        lefts_s = st.lists(
            st.tuples(keys, times), min_size=1, max_size=8, unique=True
        )
        rights_s = st.lists(
            st.tuples(keys, times), min_size=0, max_size=8, unique=True
        )

        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(lefts=lefts_s, rights=rights_s)
        def run(lefts, rights):
            lrows = [
                (k, t * 1_000_000, i) for i, (k, t) in enumerate(lefts)
            ]  # micro timestamps as epoch micros
            rrows = [
                (k, t * 1_000_000, 100 + i, float(100 + i))
                for i, (k, t) in enumerate(rights)
            ]
            ldf = spark.createDataFrame(
                [(k, _us_ts(t), i) for k, t, i in lrows], "k long, lt timestamp, lid long"
            )
            rdf = spark.createDataFrame(
                [(k, _us_ts(t), rid, rv) for k, t, rid, rv in rrows],
                "k long, rt timestamp, rid long, rv double",
            )
            got_df = asof_join_nearest(
                ldf,
                rdf,
                on="k",
                left_time="lt",
                right_time="rt",
                payload_cols=["rv"],
                tie_break="rid",
                tolerance_us=10_000_000,  # 10 synthetic seconds
            )
            got = {
                (r.k, r.lid): (r._asof_dist_us, r.rv) for r in got_df.collect()
            }
            expect = self._brute(
                [(k, t, i) for k, t, i in lrows],
                [(k, t, rid, rv) for k, t, rid, rv in rrows],
                10_000_000,
            )
            assert got == expect

        run()


def _us_ts(us: int):
    import datetime

    return datetime.datetime(2024, 1, 1) + datetime.timedelta(microseconds=us)


def test_zorder_buckets_are_spatially_local(spark):
    """The Z-order locality guarantee itself: every 1024-cell zbucket covers
    at most a 32x32 tile — the property that makes min/max file skipping
    work on BOTH dimensions."""
    from db_core_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    rows = all_queries()["zorder_cluster_stats"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.x_span <= 31, f"bucket {r.zbucket}: x_span {r.x_span}"
        assert r.y_span <= 31, f"bucket {r.zbucket}: y_span {r.y_span}"


def test_blocked_radius_pairs_exact_vs_bruteforce_boundary_points(spark):
    """The owner-cell 5-offset blocking must reproduce the brute-force
    O(n^2) pair set EXACTLY on an adversarial cloud: points deliberately
    straddling cell corners/edges (where a wrong offset set loses or
    double-counts pairs), plus random fill. Every pair within the radius
    crosses at most one cell boundary per axis by construction."""
    import itertools
    import math
    import random

    from db_core_spark.queries.geo import blocked_radius_pairs

    rng = random.Random(42)
    cell = 0.05          # degrees; >= ~4.2 km on the narrow axis at lat 40
    radius = 2.0         # km
    pts = []
    # clusters hugging cell corners: 4 points per corner, one per quadrant
    for corner in [(40.0, -74.5), (40.05, -74.45), (40.1, -74.4), (40.2, -74.35)]:
        for dx, dy in itertools.product((-1e-4, 1e-4), repeat=2):
            pts.append((corner[0] + dx, corner[1] + dy))
    # points sitting exactly ON boundaries (floor() edge cases)
    pts += [(40.05, -74.3), (40.1, -74.25), (40.15, -74.2)]
    # random fill across a few cells
    for _ in range(60):
        pts.append((40.0 + rng.random() * 0.3, -74.5 + rng.random() * 0.3))
    df = spark.createDataFrame(
        [(i, lat, lon) for i, (lat, lon) in enumerate(pts)],
        "id long, lat double, lon double",
    )
    got = {
        (r.id_a, r.id_b)
        for r in blocked_radius_pairs(df, radius_km=radius, cell_deg=cell).collect()
    }

    def hav(p, q):
        sa = math.sin(math.radians(q[0] - p[0]) / 2)
        sb = math.sin(math.radians(q[1] - p[1]) / 2)
        h = sa * sa + math.cos(math.radians(p[0])) * math.cos(math.radians(q[0])) * sb * sb
        return 12742.0 * math.asin(math.sqrt(h))

    want = {
        (i, j)
        for i in range(len(pts))
        for j in range(i + 1, len(pts))
        if hav(pts[i], pts[j]) <= radius
    }
    assert want, "fixture must actually produce qualifying pairs"
    assert got == want


class TestPrefixRankHelpers:
    """Direct parity tests for operators/prefixrank.py against the plain
    global-window oracle, across partition counts and value types —
    including DECIMAL, whose offsets must keep Spark's widened decimal
    type (a float/long sniff of the driver-side accumulator misdeclares
    them), and double columns whose partitions sum to NULL."""

    def _frame(self, spark, dtype: str):
        rows = [(i, ((i * 7) % 13) - 6) for i in range(40)]
        df = spark.createDataFrame(rows, "id long, v long")
        return df.withColumn("v", F.col("v").cast(dtype))

    @pytest.mark.parametrize("parts", [1, 3, 8])
    @pytest.mark.parametrize("dtype", ["long", "double", "decimal(12,2)"])
    def test_running_sum_matches_global_window(self, spark, parts, dtype):
        from pyspark.sql import Window as W

        from db_core_spark.operators.prefixrank import global_running_sum

        df = self._frame(spark, dtype)
        got = {
            r.id: r.cs
            for r in global_running_sum(
                df, [F.col("id")], "v", num_parts=parts, out="cs"
            ).collect()
        }
        w = W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
        want = {
            r.id: r.cs for r in df.select("id", F.sum("v").over(w).alias("cs")).collect()
        }
        assert got == want

    @pytest.mark.parametrize("parts", [1, 3, 8])
    def test_row_number_and_multi_sums(self, spark, parts):
        from pyspark.sql import Window as W

        from db_core_spark.operators.prefixrank import (
            global_row_number,
            global_running_sums,
        )

        df = self._frame(spark, "long").withColumn(
            "w", (F.col("v") * 2 + 1).cast("double")
        )
        ranked, n = global_row_number(df, [F.col("id")], num_parts=parts)
        assert n == 40
        assert {r.id: r.rk for r in ranked.collect()} == {
            i: i + 1 for i in range(40)
        }
        res = global_running_sums(
            df, [F.col("id")], {"v": "cv", "w": "cw"}, num_parts=parts
        )
        win = W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
        want = {
            r.id: (r.cv, r.cw)
            for r in df.select(
                "id",
                F.sum("v").over(win).alias("cv"),
                F.sum("w").over(win).alias("cw"),
            ).collect()
        }
        assert {r.id: (r.cv, r.cw) for r in res.collect()} == want

    def test_all_null_double_partitions(self, spark):
        from db_core_spark.operators.prefixrank import global_running_sum

        df = spark.createDataFrame(
            [(i, None) for i in range(10)], "id long, v double"
        )
        out = global_running_sum(df, [F.col("id")], "v", num_parts=3, out="cs")
        assert all(r.cs is None for r in out.collect())

    @pytest.mark.parametrize("parts", [1, 3, 8])
    def test_grouped_running_sum_matches_per_group_window(self, spark, parts):
        """grouped_running_sum (r7, the agg_weighted_median rewrite) vs the
        plain per-group ordered window, with GROUPS FAR FEWER than
        partitions so every group is forced to span multiple range
        partitions — the exact regime the per-group window cannot
        parallelize. Values are integer-valued doubles (the exactness
        contract in the operator's docstring)."""
        from pyspark.sql import Window as W

        from db_core_spark.operators.prefixrank import grouped_running_sum

        rows = [
            (i, ["a", "b", "c"][i % 3], float((i * 7) % 13)) for i in range(60)
        ]
        df = spark.createDataFrame(rows, "id long, g string, v double")
        got = {
            (r.g, r.id): r.cw
            for r in grouped_running_sum(
                df, ["g"], [F.col("id")], "v", num_parts=parts, out="cw"
            ).collect()
        }
        w = (
            W.partitionBy("g")
            .orderBy("id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        want = {
            (r.g, r.id): r.cw
            for r in df.withColumn("cw", F.sum("v").over(w)).collect()
        }
        assert got == want

    @pytest.mark.parametrize("parts", [1, 3, 8])
    def test_grouped_lagged_value_matches_per_group_window(self, spark, parts):
        """grouped_lagged_value (r8, the events_interarrival_stats rewrite)
        vs the plain per-group LAG window, with groups far fewer than
        partitions so every group spans multiple range partitions — each
        partition's first row per group must take its predecessor from the
        cross-partition boundary stitch, not the local window."""
        from pyspark.sql import Window as W

        from db_core_spark.operators.prefixrank import grouped_lagged_value

        rows = [(i, ["a", "b", "c"][i % 3], (i * 7) % 13) for i in range(60)]
        df = spark.createDataFrame(rows, "id long, g string, v long")
        got = {
            (r.g, r.id): r.prev
            for r in grouped_lagged_value(
                df, ["g"], [F.col("id")], "v", num_parts=parts, out="prev"
            ).collect()
        }
        w = W.partitionBy("g").orderBy("id")
        want = {
            (r.g, r.id): r.prev
            for r in df.withColumn("prev", F.lag("v").over(w)).collect()
        }
        assert got == want

    def test_grouped_lagged_value_null_group_key(self, spark):
        """A NULL group key is a real group under a window partition; the
        boundary join must be null-safe or those rows silently lose their
        cross-partition predecessor (the agg_weighted_median fence trap,
        ADVICE r7)."""
        from pyspark.sql import Window as W

        from db_core_spark.operators.prefixrank import grouped_lagged_value

        rows = [(None, 5, 1), (None, 9, 2), ("a", 1, 3), ("a", 2, 4), (None, 7, 5)]
        df = spark.createDataFrame(rows, "g string, v long, id long")
        key = lambda r: (str(r.g), r.v, r.id)  # noqa: E731
        w = W.partitionBy("g").orderBy("v", "id")
        want = sorted(df.withColumn("prev", F.lag("v").over(w)).collect(), key=key)
        got = sorted(
            grouped_lagged_value(
                df, ["g"], [F.col("v"), F.col("id")], "v", num_parts=3, out="prev"
            ).collect(),
            key=key,
        )
        assert got == want

    def test_grouped_lagged_value_null_values_stay_null(self, spark):
        """LAG of a NULL predecessor VALUE is NULL — a coalesce(lag,
        boundary) formulation would resurrect the partition boundary for
        any row following a null-valued row, not just partition-first
        rows (caught in r8 review before it shipped; the operator
        branches on row_number instead)."""
        from pyspark.sql import Window as W

        from db_core_spark.operators.prefixrank import grouped_lagged_value

        rows = [("a", 1, 10), ("a", 2, None), ("a", 3, 30), ("a", 4, None)]
        df = spark.createDataFrame(rows, "g string, id long, v long")
        w = W.partitionBy("g").orderBy("id")
        want = {
            r.id: r.prev for r in df.withColumn("prev", F.lag("v").over(w)).collect()
        }
        for parts in (1, 2, 4):
            got = {
                r.id: r.prev
                for r in grouped_lagged_value(
                    df, ["g"], [F.col("id")], "v", num_parts=parts, out="prev"
                ).collect()
            }
            assert got == want, f"num_parts={parts}: {got} != {want}"

    def test_grouped_lagged_value_null_sort_value_raises(self, spark):
        """r10 (r9 verdict #6 / ADVICE r8 #3 full close): the non-null
        sort-value contract is ENFORCED, not just documented — a NULL
        sort value means the max_by-struct boundary election can disagree
        with the range partitioner's nulls-first order, so the operator
        must raise rather than risk a silently wrong boundary. Property
        sweep: a NULL at ANY sort position, under any partitioning,
        raises; the same frame with the null coalesced away succeeds."""
        from hypothesis import HealthCheck, given, settings, strategies as st

        from db_core_spark.operators.prefixrank import grouped_lagged_value

        @settings(
            max_examples=5,
            deadline=None,
            suppress_health_check=[
                HealthCheck.function_scoped_fixture,
                HealthCheck.too_slow,
            ],
        )
        @given(null_at=st.integers(0, 9), parts=st.sampled_from([1, 3]))
        def check(null_at, parts):
            rows = [
                (["a", "b"][i % 2], None if i == null_at else i, i, i * 2)
                for i in range(10)
            ]
            df = spark.createDataFrame(rows, "g string, t long, id long, v long")
            with pytest.raises(ValueError, match="NULL sort value"):
                grouped_lagged_value(
                    df, ["g"], [F.col("t"), F.col("id")], "v",
                    num_parts=parts, out="prev",
                ).collect()
            ok = df.withColumn("t", F.coalesce("t", F.lit(-1)))
            assert (
                grouped_lagged_value(
                    ok, ["g"], [F.col("t"), F.col("id")], "v",
                    num_parts=parts, out="prev",
                ).count()
                == 10
            )

        check()

    def test_grouped_lagged_value_property(self, spark):
        """Hypothesis sweep: random group/value sequences (nulls and
        duplicate sort positions included via a unique id tiebreak) must
        match the per-group window LAG for every partitioning."""
        from hypothesis import HealthCheck, given, settings, strategies as st
        from pyspark.sql import Window as W

        from db_core_spark.operators.prefixrank import grouped_lagged_value

        row = st.tuples(
            st.sampled_from(["a", "b", None]),
            st.integers(0, 3),
            st.one_of(st.none(), st.integers(-5, 5)),
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[
                HealthCheck.function_scoped_fixture,
                HealthCheck.too_slow,
            ],
        )
        @given(spec=st.lists(row, min_size=1, max_size=12), parts=st.sampled_from([1, 3, 5]))
        def check(spec, parts):
            rows = [(g, t, i, v) for i, (g, t, v) in enumerate(spec)]
            df = spark.createDataFrame(rows, "g string, t long, id long, v long")
            w = W.partitionBy("g").orderBy("t", "id")
            want = {
                r.id: r.prev
                for r in df.withColumn("prev", F.lag("v").over(w)).collect()
            }
            got = {
                r.id: r.prev
                for r in grouped_lagged_value(
                    df, ["g"], [F.col("t"), F.col("id")], "v",
                    num_parts=parts, out="prev",
                ).collect()
            }
            assert got == want

        check()

    def test_empty_input(self, spark):
        from db_core_spark.operators.prefixrank import (
            global_prefix_max,
            global_row_number,
            global_running_sum,
            grouped_lagged_value,
            grouped_running_sum,
        )

        empty = spark.createDataFrame([], "id long, v decimal(10,2)")
        ranked, n = global_row_number(empty, [F.col("id")])
        assert n == 0 and ranked.count() == 0
        assert global_running_sum(empty, [F.col("id")], "v").count() == 0
        assert global_prefix_max(empty, [F.col("id")], "v").count() == 0
        empty_g = spark.createDataFrame([], "id long, g string, v double")
        assert (
            grouped_running_sum(empty_g, ["g"], [F.col("id")], "v").count() == 0
        )
        assert (
            grouped_lagged_value(empty_g, ["g"], [F.col("id")], "v").count() == 0
        )

    def test_resolve_num_parts_contract(self, spark):
        """Pin the staging-parallelism resolver (r10): explicit wins; small
        inputs resolve to cluster cores; the Catalyst size estimate floors
        the count at est/512MB once it exceeds cores (partition SIZE is the
        scaling invariant); and the cores*64 clamp bounds runaway
        estimates. Built on spark.range so stats are metadata-only — no
        job runs."""
        import math

        from db_core_spark.operators.prefixrank import (
            _TARGET_PART_BYTES,
            resolve_num_parts,
        )

        small = spark.range(0, 1000).selectExpr("id", "id * 2 as v")
        cores = max(2, spark.sparkContext.defaultParallelism)
        assert resolve_num_parts(small, 7) == 7  # explicit always wins
        assert resolve_num_parts(small, None) == cores  # sub-512MB input

        # ~8 bytes/row LongType: 40B rows estimates a few hundred GB —
        # enough that est/512MB > cores but < cores*64 on any box
        big = spark.range(0, 40_000_000_000).selectExpr("id", "id * 2 as v")
        est = big._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        expect = min(max(cores, math.ceil(est / _TARGET_PART_BYTES)), cores * 64)
        got = resolve_num_parts(big, None)
        assert got == expect and got > cores

        huge = spark.range(0, 4_000_000_000_000).selectExpr("id", "id * 2 as v")
        assert resolve_num_parts(huge, None) == cores * 64  # clamp ceiling

        # r10: join estimates multiply through the plan — a tiny joined
        # frame can estimate terabytes (pareto's 1.4 MB staging frame
        # estimated 1219 GB and hit the ceiling: ~6000 scheduling-overhead
        # tasks). The leaf-anchored cap (8x the summed leaf sizes, both
        # leaves metadata-exact here) must rescue it back to cores.
        ja = spark.range(0, 100_000).selectExpr("id", "id % 97 as k")
        jb = spark.range(0, 100_000).selectExpr("id % 97 as k", "id as v")
        joined = ja.join(jb, "k")
        jest = joined._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert jest > 100 * _TARGET_PART_BYTES  # the estimate really explodes
        assert resolve_num_parts(joined, None) == cores  # leaf cap rescues

    def test_resolve_num_parts_fanout_join_bound(self, spark):
        """r11 (VERDICT r10 #5): pin the leaf cap's behavior for a join
        whose TRUE output genuinely exceeds 8x its leaves. The resolver
        cannot statically tell phantom-high from true-high estimates, so
        the documented contract is: partitions are sized for 8x the leaf
        bytes (each sort partition then holds ~fanout/8 x 512 MB — spill
        territory, never failure), floored at cores, and an explicit
        num_parts always escapes the cap."""
        import math

        from db_core_spark.operators.prefixrank import (
            _TARGET_PART_BYTES,
            resolve_num_parts,
        )

        cores = max(2, spark.sparkContext.defaultParallelism)
        # leaves ~2 x 32 GB (metadata-exact ranges); join on a 1000-value
        # key gives a true ~4M x fanout — Catalyst's estimate blows past
        # 8x leaves, so the cap engages on a REAL fanout this time
        ja = spark.range(0, 4_000_000_000).selectExpr("id", "id % 1000 as k")
        jb = spark.range(0, 4_000_000_000).selectExpr("id % 1000 as k", "id as v")
        joined = ja.join(jb, "k")
        plan = joined._jdf.queryExecution().optimizedPlan()
        est = plan.stats().sizeInBytes()
        leaves = plan.collectLeaves()
        leaf_total = sum(
            leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size())
        )
        assert est > 8 * leaf_total  # the cap really engages
        expect = min(
            max(cores, math.ceil(8 * leaf_total / _TARGET_PART_BYTES)),
            cores * 64,
        )
        got = resolve_num_parts(joined, None)
        assert got == expect
        assert got > cores  # big leaves still scale the count past cores
        assert got < math.ceil(est / _TARGET_PART_BYTES)  # capped below est
        # the escape hatch for known-fanout callers
        assert resolve_num_parts(joined, 12345) == 12345


class TestAsofJoinProperty:
    """asof_join / asof_join_nearest vs an O(n*m) brute-force model on
    random keyed event times — duplicate (key, time) pairs generated
    deliberately to pin the documented tie-break rules (backward: largest
    tie_break; forward: smallest; nearest: equal distances resolve
    backward)."""

    def _frames(self, spark, lspec, rspec):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        lrows = [
            (i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lspec)
        ]
        rrows = [
            (i, k, base + dt.timedelta(seconds=s), f"v{i}")
            for i, (k, s) in enumerate(rspec)
        ]
        left = spark.createDataFrame(lrows, "lid long, key long, lt timestamp")
        right = spark.createDataFrame(
            rrows, "rid long, key long, rt timestamp, val string"
        )
        return left, right, lrows, rrows

    @pytest.mark.parametrize("direction", ["backward", "forward"])
    def test_directional_matches_bruteforce(self, spark, direction):
        from hypothesis import HealthCheck, given, settings, strategies as st

        from db_core_spark.operators.asof import asof_join

        ev = st.tuples(st.integers(0, 1), st.integers(0, 5))

        @settings(
            max_examples=6,
            deadline=None,
            suppress_health_check=[
                HealthCheck.function_scoped_fixture,
                HealthCheck.too_slow,
            ],
        )
        @given(
            lspec=st.lists(ev, min_size=1, max_size=5),
            rspec=st.lists(ev, min_size=1, max_size=5),
        )
        def check(lspec, rspec):
            left, right, lrows, rrows = self._frames(spark, lspec, rspec)
            out = asof_join(
                left, right, on="key", left_time="lt", right_time="rt",
                payload_cols=["val"], tie_break="rid", direction=direction,
            )
            got = {r.lid: r.val for r in out.collect()}
            want = {}
            for lid, k, lt in lrows:
                cands = [
                    (rt, rid, val) for rid, rk, rt, val in rrows
                    if rk == k and (rt <= lt if direction == "backward" else rt >= lt)
                ]
                if not cands:
                    want[lid] = None
                elif direction == "backward":
                    want[lid] = max(cands, key=lambda c: (c[0], c[1]))[2]
                else:
                    want[lid] = min(cands, key=lambda c: (c[0], c[1]))[2]
            assert got == want

        check()

    def test_nearest_matches_bruteforce(self, spark):
        from hypothesis import HealthCheck, given, settings, strategies as st

        from db_core_spark.operators.asof import asof_join_nearest

        ev = st.tuples(st.integers(0, 1), st.integers(0, 5))

        @settings(
            max_examples=6,
            deadline=None,
            suppress_health_check=[
                HealthCheck.function_scoped_fixture,
                HealthCheck.too_slow,
            ],
        )
        @given(
            lspec=st.lists(ev, min_size=1, max_size=5),
            rspec=st.lists(ev, min_size=1, max_size=5),
            tol_s=st.sampled_from([None, 2]),
        )
        def check(lspec, rspec, tol_s):
            left, right, lrows, rrows = self._frames(spark, lspec, rspec)
            out = asof_join_nearest(
                left, right, on="key", left_time="lt", right_time="rt",
                payload_cols=["val"], tie_break="rid",
                tolerance_us=None if tol_s is None else tol_s * 1_000_000,
            )
            got = {r.lid: r.val for r in out.collect()}
            want = {}
            for lid, k, lt in lrows:
                best = None
                for rid, rk, rt, val in rrows:
                    if rk != k:
                        continue
                    d = abs((rt - lt).total_seconds())
                    if tol_s is not None and d > tol_s:
                        continue
                    backward = rt <= lt
                    # order: distance, then backward-before-forward, then
                    # that direction's tie rule (backward: LARGEST rid wins
                    # -> sort key -rid; forward: smallest rid)
                    sk = (d, 0 if backward else 1, -rid if backward else rid)
                    if best is None or sk < best[0]:
                        best = (sk, val)
                want[lid] = best[1] if best else None
            assert got == want

        check()


class TestBucketedExactQuantiles:
    """operators/quantile.bucketed_exact_quantiles (r7 continuation: the
    agg_percentiles rewrite) must EQUAL F.percentile — same interpolation
    at k=(n-1)*q — while never buffering group values: parity across q
    values, hostile bucket widths (many values per bucket / one value per
    bucket), duplicate-heavy data, and empty input."""

    @pytest.mark.parametrize("width", [1.0, 4.0, 64.0, 4096.0])
    def test_matches_percentile_on_lineitem(self, spark, width):
        from db_core_spark.operators.quantile import bucketed_exact_quantiles
        from db_core_spark.tables import table
        from tests.conftest import SF_SMALL

        qs = [0.0, 0.01, 0.25, 0.5, 0.77, 0.95, 1.0]
        li = table(spark, SF_SMALL, "lineitem")
        got = {
            (r.l_returnflag, r.q): r.value
            for r in bucketed_exact_quantiles(
                li, "l_returnflag", "l_extendedprice", qs, width=width
            ).collect()
        }
        want_rows = li.groupBy("l_returnflag").agg(
            *[
                F.percentile("l_extendedprice", F.lit(q)).alias(f"p{i}")
                for i, q in enumerate(qs)
            ]
        ).collect()
        want = {
            (r.l_returnflag, q): r[f"p{i}"]
            for r in want_rows
            for i, q in enumerate(qs)
        }
        assert got == want and len(got) == 3 * len(qs)  # bit-exact

    def test_duplicate_heavy_and_tiny_groups(self, spark):
        """Groups of size 1 and 2 (k lands exactly on / between the only
        rows) plus a group that is one giant tied run."""
        from db_core_spark.operators.quantile import bucketed_exact_quantiles

        rows = (
            [("one", 42.5)]
            + [("two", 10.0), ("two", 20.0)]
            + [("tied", 7.0)] * 50
        )
        df = spark.createDataFrame(rows, "g string, v double")
        qs = [0.0, 0.5, 0.9, 1.0]
        got = {
            (r.g, r.q): r.value
            for r in bucketed_exact_quantiles(df, "g", "v", qs, width=8.0).collect()
        }
        want_rows = df.groupBy("g").agg(
            *[F.percentile("v", F.lit(q)).alias(f"p{i}") for i, q in enumerate(qs)]
        ).collect()
        want = {
            (r.g, q): r[f"p{i}"]
            for r in want_rows
            for i, q in enumerate(qs)
        }
        assert got == want  # bit-exact

    def test_empty_input(self, spark):
        from db_core_spark.operators.quantile import bucketed_exact_quantiles

        empty = spark.createDataFrame([], "g string, v double")
        out = bucketed_exact_quantiles(empty, "g", "v", [0.5])
        assert out.columns == ["g", "q", "value"]
        assert out.count() == 0

    def test_quantiles_match_percentile_generated(self, spark):
        """Hypothesis: arbitrary grouped multisets — negative values
        (negative bucket ids), heavy duplicates, single-element groups,
        sub-1.0 widths — must reproduce F.percentile exactly. The Python
        reference below re-implements the k=(n-1)*q interpolation
        directly, so a bug shared between the operator and F.percentile
        would still need BOTH engines to agree with plain sorted-list
        math."""
        from hypothesis import HealthCheck, given, settings, strategies as st

        from db_core_spark.operators.quantile import bucketed_exact_quantiles

        vals = st.integers(-40, 40).map(lambda i: i / 4.0)

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[
                HealthCheck.function_scoped_fixture,
                HealthCheck.too_slow,
            ],
        )
        @given(
            ga=st.lists(vals, min_size=1, max_size=12),
            gb=st.lists(vals, min_size=0, max_size=12),
            q=st.sampled_from([0.0, 0.1, 0.5, 0.9, 1.0]),
            width=st.sampled_from([0.25, 2.0, 64.0]),
        )
        def check(ga, gb, q, width):
            rows = [("a", v) for v in ga] + [("b", v) for v in gb]
            df = spark.createDataFrame(rows, "g string, v double")
            got = {
                r.g: round(r.value, 9)
                for r in bucketed_exact_quantiles(
                    df, "g", "v", [q], width=width
                ).collect()
            }

            def ref(xs):
                s = sorted(xs)
                k = (len(s) - 1) * q
                lo, hi = int(math.floor(k)), int(math.ceil(k))
                return round(s[lo] + (k - math.floor(k)) * (s[hi] - s[lo]), 9)

            want = {g: ref(xs) for g, xs in (("a", ga), ("b", gb)) if xs}
            assert got == want

        import math

        check()

    def test_null_group_key_survives_and_inputs_validated(self, spark):
        """A NULL group key is a real group under groupBy — null-safe
        matching must carry it through both passes (the naive == filter
        would silently drop it). Out-of-range/empty qs and a
        non-power-of-two width raise instead of returning wrong or
        missing rows."""
        from db_core_spark.operators.quantile import bucketed_exact_quantiles

        rows = [(None, 1.0), (None, 3.0), (None, 4.0), ("a", 5.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        got = {
            (r.g, r.q): r.value
            for r in bucketed_exact_quantiles(
                df, "g", "v", [0.5], width=2.0
            ).collect()
        }
        assert got == {(None, 0.5): 3.0, ("a", 0.5): 5.0}
        for bad_qs in ([1.5], [-0.1], []):
            with pytest.raises(ValueError):
                bucketed_exact_quantiles(df, "g", "v", bad_qs)
        with pytest.raises(ValueError):
            bucketed_exact_quantiles(df, "g", "v", [0.5], width=10.0)
        with pytest.raises(ValueError):
            bucketed_exact_quantiles(df, "g", "v", [0.5], width=-64.0)

    def test_envelope_fallback_above_literal_fence_cap(self, spark):
        """More fenced buckets than _MAX_LITERAL_FENCES: the pushdown
        predicate degrades to the coarse value envelope and the
        (group, bucket) join alone must keep the result exact — 80 groups,
        bit-equal to F.percentile."""
        from db_core_spark.operators.quantile import (
            _MAX_LITERAL_FENCES,
            bucketed_exact_quantiles,
        )

        rows = [
            (f"g{i:03d}", float(j + 3 * i)) for i in range(80) for j in range(5)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        assert 80 > _MAX_LITERAL_FENCES
        got = {
            r.g: r.value
            for r in bucketed_exact_quantiles(
                df, "g", "v", [0.5], width=2.0
            ).collect()
        }
        want = {
            r.g: r.m
            for r in df.groupBy("g")
            .agg(F.percentile("v", F.lit(0.5)).alias("m"))
            .collect()
        }
        assert got == want and len(got) == 80

    def test_bucket_aggs_fusion_mode(self, spark):
        """bucket_aggs (r10 fusion): the quantiles must be bit-identical to
        the plain mode over the non-null values, and the literal stats
        frame (per-bucket aggregates recombined on the fence window) must
        equal a direct COUNT/SUM/MAX aggregation over the input — NULL
        values land in a NULL-bucket histogram row (keeping all-NULL
        groups visible in stats with __n=0 / NULL aggregates) but never
        enter the quantiles. Empty input returns the (empty, empty-stats)
        tuple."""
        from db_core_spark.operators.quantile import bucketed_exact_quantiles

        rows = (
            [("a", 1.0), ("a", None), ("a", 5.0), ("a", 130.0)]
            + [("b", -7.5)]
            + [("allnull", None), ("allnull", None)]
        )
        df = spark.createDataFrame(rows, "g string, v double")
        qs = [0.0, 0.5, 1.0]
        qdf, stats = bucketed_exact_quantiles(
            df,
            "g",
            "v",
            qs,
            width=64.0,
            bucket_aggs={
                "__s": (F.sum("v"), F.sum("__s")),
                "__mx": (F.max("v"), F.max("__mx")),
            },
        )
        got_q = {(r.g, r.q): r.value for r in qdf.collect()}
        want_q = {
            (r.g, r.q): r.value
            for r in bucketed_exact_quantiles(
                df.filter(F.col("v").isNotNull()), "g", "v", qs, width=64.0
            ).collect()
        }
        assert got_q == want_q  # bit-exact, and no rows for the all-NULL group
        assert not any(g == "allnull" for g, _ in got_q)

        assert stats.columns == ["g", "__n", "__s", "__mx"]
        # subscript access: attribute access on __-prefixed names would be
        # name-mangled inside this class body
        got_s = {r["g"]: (r["__n"], r["__s"], r["__mx"]) for r in stats.collect()}
        want_s = {
            r.g: (r.n, r.s, r.mx)
            for r in df.groupBy("g")
            .agg(
                F.count("v").alias("n"),
                F.sum("v").alias("s"),
                F.max("v").alias("mx"),
            )
            .collect()
        }
        assert got_s == want_s and got_s["allnull"] == (0, None, None)

        empty = spark.createDataFrame([], "g string, v double")
        eq, es = bucketed_exact_quantiles(
            empty,
            "g",
            "v",
            [0.5],
            bucket_aggs={"__s": (F.sum("v"), F.sum("__s"))},
        )
        assert eq.columns == ["g", "q", "value"] and eq.count() == 0
        assert es.count() == 0 and es.columns == ["g", "__n", "__s"]


class TestMinLabelComponents:
    """Pointer-doubling connected components (operators/components.py, r11):
    fixpoint equality with plain min-label propagation, log-round
    convergence on a long chain, and the every-K convergence observation."""

    def _plain_components(self, spark, edges, id_col):
        """The retired r10 formulation: one round per diameter unit,
        convergence counted every round. Kept here as the semantics
        oracle for the doubling rewrite."""
        edges = edges.localCheckpoint(eager=False)
        labels = (
            edges.select(F.col("u").alias(id_col)).distinct()
            .withColumn("label", F.col(id_col))
            .localCheckpoint(eager=False)
        )
        for _ in range(200):
            msgs = (
                edges.join(labels, edges.v == labels[id_col])
                .groupBy("u")
                .agg(F.min("label").alias("nbr_min"))
            )
            stepped = (
                labels.join(msgs, labels[id_col] == msgs.u, "left")
                .select(
                    id_col,
                    F.col("label").alias("old_label"),
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_min"), F.col("label")),
                    ).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
            changed = stepped.filter(F.col("label") != F.col("old_label")).count()
            labels = stepped.select(id_col, "label")
            if changed == 0:
                return labels
        raise AssertionError("plain propagation did not converge")

    def _bi(self, spark, pairs):
        df = spark.createDataFrame(pairs, "u long, v long")
        return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def test_matches_plain_propagation_on_mixed_graph(self, spark):
        from db_core_spark.operators.components import min_label_components

        # chain of 40 (diameter 39 — worst case for plain propagation),
        # a star, a triangle with a pendant, and two isolated edges;
        # ids deliberately non-contiguous and partly negative
        chain = [(i * 3, (i + 1) * 3) for i in range(40)]
        star = [(1000, x) for x in (1001, 1002, 1003, 1004)]
        tri = [(-5, -4), (-4, -3), (-3, -5), (-3, -2)]
        iso = [(5000, 5001), (7000, 7001)]
        edges = self._bi(spark, chain + star + tri + iso)
        got = {
            (r.nid, r.label)
            for r in min_label_components(edges, "nid").collect()
        }
        want = {
            (r.nid, r.label)
            for r in self._plain_components(spark, edges, "nid").collect()
        }
        assert got == want
        # and the labels really are the component minima
        chain_ids = {i * 3 for i in range(41)}
        assert {lab for (n, lab) in got if n in chain_ids} == {0}
        assert {lab for (n, lab) in got if -5 <= n <= -2} == {-5}

    def test_long_chain_converges_within_log_rounds(self, spark):
        from db_core_spark.operators import components as C

        # diameter 120 chain: plain propagation would need >120 rounds;
        # doubling must finish inside the 20-round cap (log2(120) ~ 7)
        edges = self._bi(spark, [(i, i + 1) for i in range(120)])
        labels = C.min_label_components(edges, "nid", max_rounds=20)
        assert labels.filter(F.col("label") != 0).count() == 0

    def test_check_every_values_equivalent(self, spark):
        from db_core_spark.operators.components import min_label_components

        edges = self._bi(spark, [(i, i + 1) for i in range(17)] + [(100, 101)])
        base = {
            (r.nid, r.label)
            for r in min_label_components(edges, "nid", check_every=1).collect()
        }
        for k in (2, 3, 5):
            got = {
                (r.nid, r.label)
                for r in min_label_components(
                    edges, "nid", check_every=k
                ).collect()
            }
            assert got == base, f"check_every={k} diverged"


def test_parallelism_floor_repartitions_only_below_cores(spark, tmp_path):
    from db_core_spark.operators.prefixrank import parallelism_floor, scan_num_splits

    cores = spark.sparkContext.defaultParallelism
    one_file = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    assert scan_num_splits(one_file) < cores
    floored = parallelism_floor(one_file)
    assert floored.rdd.getNumPartitions() == cores
    assert sorted(r.doc_id for r in floored.collect()) == sorted(
        r.doc_id for r in one_file.collect()
    )

    wide_path = str(tmp_path / "wide")
    spark.range(4 * cores).repartition(2 * cores).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    assert scan_num_splits(wide) >= cores
    assert parallelism_floor(wide) is wide
