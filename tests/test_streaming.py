"""Structured Streaming tests: the streaming operators must converge to
their batch twins over the bounded fixture, watermarks must drop true late
arrivals in append mode, and stateful/dedup state must behave."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_core_spark.streaming import (
    dedup_stream,
    events_stream,
    run_to_memory,
    session_counts,
    sliding_counts,
    stage_events_files,
    stateful_user_counts,
    tumbling_counts,
)
from db_core_spark.tables import table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("events_stream")
    return stage_events_files(spark, SF_SMALL, str(out), n_files=4)


def batch_events(spark):
    return table(spark, SF_SMALL, "events").withColumn("ts", F.col("ts").cast("timestamp"))


def test_tumbling_update_mode_converges_to_batch(spark, stream_dir, tmp_path):
    got = run_to_memory(
        tumbling_counts(events_stream(spark, stream_dir)), "update", str(tmp_path / "ck")
    )
    # update mode re-emits windows as they refine; last emission per key wins
    final = {}
    for r in got.collect():
        final[(r.window_start, r.event_type)] = r.n_events
    expect = {
        (r.window_start, r.event_type): r.n_events
        for r in tumbling_counts(batch_events(spark)).collect()
    }
    # every batch window must be present with the final (= batch) count
    assert final == expect


def test_append_mode_watermark_finalizes_only_closed_windows(spark, stream_dir, tmp_path):
    got = run_to_memory(
        tumbling_counts(events_stream(spark, stream_dir), watermark="30 minutes"),
        "append",
        str(tmp_path / "ck"),
    )
    batch = tumbling_counts(batch_events(spark)).collect()
    max_ts = batch_events(spark).agg(F.max("ts")).collect()[0][0]
    expect_closed = {
        (r.window_start, r.event_type): r.n_events
        for r in batch
        # append emits windows whose end <= final watermark (max_ts - 30m)
        if (max_ts - r.window_end).total_seconds() >= 30 * 60
    }
    emitted = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    for k, v in expect_closed.items():
        assert emitted.get(k) == v, f"window {k} missing/incomplete in append output"
    # nothing past the watermark may be emitted
    for (ws, _et) in emitted:
        assert (max_ts - ws).total_seconds() >= 30 * 60


@pytest.mark.heavy
def test_late_rows_dropped_in_append_mode(spark, tmp_path):
    """Stage with 20% true late arrivals; append-mode totals must be LESS
    than the batch totals (late rows dropped), and never greater."""
    late_dir = stage_events_files(
        spark, SF_SMALL, str(tmp_path / "late"), n_files=4, late_fraction=0.2
    )
    got = run_to_memory(
        tumbling_counts(events_stream(spark, late_dir), watermark="10 minutes"),
        "append",
        str(tmp_path / "ck"),
    )
    stream_total = sum(r.n_events for r in got.collect())
    batch_total = batch_events(spark).count()
    assert 0 < stream_total < batch_total


def test_sliding_counts_converge(spark, stream_dir, tmp_path):
    got = run_to_memory(
        sliding_counts(events_stream(spark, stream_dir)), "update", str(tmp_path / "ck")
    )
    final = {}
    for r in got.collect():
        final[r.window_start] = r.n_events
    expect = {r.window_start: r.n_events for r in sliding_counts(batch_events(spark)).collect()}
    assert final == expect


def test_session_window_stream_runs(spark, stream_dir, tmp_path):
    # session-window aggregation only supports append (or complete) mode
    got = run_to_memory(
        session_counts(events_stream(spark, stream_dir), watermark="30 minutes"),
        "append",
        str(tmp_path / "ck"),
    )
    rows = got.collect()
    assert len(rows) > 0
    # session invariant: start <= end, positive counts
    for r in rows:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1


def test_dedup_stream_matches_batch_distinct(spark, stream_dir, tmp_path):
    got = run_to_memory(
        dedup_stream(events_stream(spark, stream_dir)), "append", str(tmp_path / "ck")
    )
    n_pairs = batch_events(spark).select("user_id", "event_type").distinct().count()
    assert got.count() == n_pairs
    assert got.select("user_id", "event_type").distinct().count() == n_pairs


def test_stateful_user_counts(spark, stream_dir, tmp_path):
    got = run_to_memory(
        stateful_user_counts(events_stream(spark, stream_dir)), "update", str(tmp_path / "ck")
    )
    # last emission per user must equal the total batch count for that user
    final = {}
    for r in got.collect():
        final[r.user_id] = max(final.get(r.user_id, 0), r.n_events)
    expect = {
        r.user_id: r.n
        for r in batch_events(spark).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == expect


def test_tws_user_value_stats_converges_to_batch(spark, stream_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): the final
    per-user emission must equal the batch aggregate over the same fixture.
    Skipped where google.protobuf (the TWS state-server protocol dep,
    absent from this container) is unavailable; the gating raise itself is
    asserted so the operator can't silently rot."""
    from db_core_spark.streaming import tws_user_value_stats
    from db_core_spark.streaming.ops import tws_available

    if not tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            tws_user_value_stats(events_stream(spark, stream_dir))
        pytest.skip("google.protobuf not available in this environment")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    got = run_to_memory(
        tws_user_value_stats(events_stream(spark, stream_dir)),
        "update",
        str(tmp_path / "ck_tws"),
    )
    final = {}
    for r in got.collect():
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.sum_value, r.max_value)
    expect = {
        r.user_id: (r.n, round(r.s, 6), r.mx)
        for r in batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert set(final) == set(expect)
    for uid, (n, s, mx) in expect.items():
        gn, gs, gmx = final[uid]
        assert gn == n
        assert abs(gs - s) < 1e-4  # state folds batch-at-a-time float sums
        assert abs(gmx - mx) < 1e-9


def test_stream_static_join_converges_to_batch(spark, stream_dir, tmp_path):
    from db_core_spark.streaming import events_stream, stream_static_enrich

    dim = table(spark, SF_SMALL, "customer")
    got = run_to_memory(
        stream_static_enrich(events_stream(spark, stream_dir), dim),
        "append",
        str(tmp_path / "ck_ss"),
    )
    want = stream_static_enrich(batch_events(spark), dim)
    assert got.count() == want.count()
    assert sorted(got.columns) == sorted(want.columns)
    assert got.agg(F.sum("value")).first()[0] == pytest.approx(
        want.agg(F.sum("value")).first()[0]
    )


@pytest.mark.heavy
def test_stream_stream_join_converges_to_batch(spark, stream_dir, tmp_path):
    from db_core_spark.streaming import events_stream, stream_stream_join

    def split(src):
        return (
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "purchase"),
        )

    sc, sp = split(events_stream(spark, stream_dir))
    got = run_to_memory(
        stream_stream_join(sc, sp), "append", str(tmp_path / "ck_s2s")
    )
    bc, bp = split(batch_events(spark))
    want = stream_stream_join(bc, bp)
    # bounded source + processAllAvailable: every in-window pair must emit
    assert got.count() == want.count() > 0


def test_foreachbatch_versioned_sink_commits_per_batch(spark, stream_dir, tmp_path):
    """Each micro-batch lands as one ACID commit; the final snapshot holds
    exactly the staged events (latest version per event_id)."""
    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.streaming import events_stream, stream_into_versioned_table

    src = events_stream(spark, stream_dir)
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_events"), key_cols=["event_id"], schema=src.schema
    )
    q = stream_into_versioned_table(src, vt, str(tmp_path / "ck_vt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = batch_events(spark)
    snap = vt.snapshot()
    assert snap.count() == want.count()
    # one commit per (non-empty) micro-batch; staged as 4 files w/ 1/trigger
    assert len([m for m in vt._manifests() if m.get("type") != "checkpoint"]) >= 2
    # spot-check content equality on a aggregate fingerprint
    assert snap.agg(F.sum("value")).first()[0] == pytest.approx(
        want.agg(F.sum("value")).first()[0]
    )


@pytest.mark.heavy
def test_incremental_rollup_materialization_converges(spark, stream_dir, tmp_path):
    """Continuous-aggregate pattern (hypertable-rollup style): the streaming
    tumbling aggregate is folded into a VersionedTable via foreachBatch in
    update mode — each micro-batch upserts the windows it touched, MVCC
    latest-per-key resolution keeps the newest partial, and after the
    bounded stream drains the materialized rollup equals the batch rollup
    exactly."""
    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.streaming import (
        events_stream,
        stream_into_versioned_table,
        tumbling_counts,
    )

    agg = tumbling_counts(events_stream(spark, stream_dir))
    vt = VersionedTable.create(
        spark,
        str(tmp_path / "rollup"),
        key_cols=["window_start", "event_type"],
        schema=agg.schema,
    )
    q = stream_into_versioned_table(agg, vt, str(tmp_path / "ck_rollup"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_counts(batch_events(spark)).collect()
    }
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in vt.snapshot().collect()
    }
    assert got == want
    # incremental: the table saw multiple commits, not one bulk load
    assert len([m for m in vt._manifests() if m.get("type") != "checkpoint"]) >= 2


def test_microbatch_replay_is_exactly_once_for_cdc(spark, tmp_path):
    """A replayed micro-batch (same writer, same epoch) must not publish a
    second manifest: CDC readers observe each change row once, not just
    snapshot-level dedup. ConflictError from a concurrent writer is retried
    instead of killing the stream."""
    from pyspark.sql import types as T

    from db_core_spark.plans import VersionedTable
    from db_core_spark.streaming.ops import commit_microbatch

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(spark, str(tmp_path / "eo"), key_cols=["k"], schema=schema)
    batch = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    assert commit_microbatch(vt, batch, epoch_id=0, writer_id="ck") is True
    # replay of the same epoch: no new manifest, no duplicate change rows
    assert commit_microbatch(vt, batch, epoch_id=0, writer_id="ck") is False
    assert vt.latest_csn() == 1
    assert vt.history().count() == 2
    # a different epoch from the same writer commits normally
    assert commit_microbatch(vt, batch, epoch_id=1, writer_id="ck") is True
    assert vt.latest_csn() == 2


@pytest.mark.heavy
def test_stream_stream_left_outer_inner_part_and_closed_nulls(spark, stream_dir, tmp_path):
    """Stream-stream LEFT OUTER: the matched (inner) rows all emit, and
    null-padded rows (a) never appear for clicks that DO have an in-window
    purchase (no spurious nulls, asserted globally) and (b) match the batch
    result exactly for clicks old enough that the watermark provably closed
    AND evicted their join state — eviction lags one watermark advance on a
    bounded source, so the comparison cut carries a 3h slack beyond
    watermark+gap."""
    from pyspark.sql import functions as F

    from db_core_spark.streaming import events_stream
    from db_core_spark.streaming.ops import stream_stream_left_outer

    def split(src):
        return (
            src.filter(F.col("event_type") == "click"),
            src.filter(F.col("event_type") == "purchase"),
        )

    sc, sp = split(events_stream(spark, stream_dir))
    got = run_to_memory(
        stream_stream_left_outer(sc, sp), "append", str(tmp_path / "ck_s2slo")
    )
    bc, bp = split(batch_events(spark))
    want = stream_stream_left_outer(bc, bp)
    # matched pairs: identical to the batch inner result
    assert (
        got.filter(F.col("purchase_id").isNotNull()).count()
        == want.filter(F.col("purchase_id").isNotNull()).count()
        > 0
    )
    # no spurious nulls anywhere: streamed null click_ids are a subset of
    # the batch null click_ids
    got_null_ids = {r.click_id for r in got.filter(F.col("purchase_id").isNull()).collect()}
    want_null_ids = {
        r.click_id for r in want.filter(F.col("purchase_id").isNull()).collect()
    }
    assert got_null_ids <= want_null_ids
    cutoff = batch_events(spark).agg(
        (F.max("ts") - F.expr("INTERVAL 6 hours")).alias("c")
    ).first()[0]
    got_nulls = got.filter(F.col("purchase_id").isNull() & (F.col("click_ts") < cutoff))
    want_nulls = want.filter(
        F.col("purchase_id").isNull() & (F.col("click_ts") < cutoff)
    )
    assert got_nulls.count() == want_nulls.count() > 0


def test_dedup_within_watermark_bounds(spark, stream_dir, tmp_path):
    """dropDuplicatesWithinWatermark: output is between global-distinct
    (every re-occurrence outside the window survives -> more rows) and the
    raw input; and within any single watermark window a key appears once."""
    from db_core_spark.streaming.ops import dedup_stream_within_watermark

    got = run_to_memory(
        dedup_stream_within_watermark(events_stream(spark, stream_dir)),
        "append",
        str(tmp_path / "ck_ddw"),
    )
    total = batch_events(spark).count()
    distinct = batch_events(spark).dropDuplicates(["user_id", "event_type"]).count()
    assert distinct <= got.count() <= total
    # no duplicate (user, type) pair within one 2h window of first arrival
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("user_id", "event_type").orderBy("ts")
    gaps = got.withColumn("prev", F.lag("ts").over(w)).filter(
        F.col("prev").isNotNull()
        & (F.col("ts") < F.col("prev") + F.expr("INTERVAL 2 hours"))
    )
    assert gaps.count() == 0


@pytest.mark.heavy
def test_stream_ewma_converges_to_batch_twin(spark, stream_dir, tmp_path):
    """The stateful streaming EWMA's final per-user emission must equal the
    batch `ewma_user_value` result exactly (same float64 recurrence, same
    (ts, event_id) fold order across time-sliced micro-batches)."""
    from db_core_spark.streaming import stream_ewma_user_value

    got = run_to_memory(
        stream_ewma_user_value(events_stream(spark, stream_dir)),
        "update",
        str(tmp_path / "ck"),
    )
    final = {}
    for r in got.collect():  # update mode: last emission per user wins
        prev = final.get(r.user_id)
        if prev is None or r.n_events >= prev[0]:
            final[r.user_id] = (r.n_events, r.ewma)
    from db_core_spark.registry import all_queries

    expect = {
        r.user_id: (r.n_events, r.ewma)
        for r in all_queries()["ewma_user_value"].fn(spark, SF_SMALL).collect()
    }
    assert set(final) == set(expect)
    for uid, (n, y) in expect.items():
        gn, gy = final[uid]
        assert gn == n, f"user {uid}: {gn} != {n} events"
        assert round(gy, 6) == y, f"user {uid}: ewma {gy} != {y}"


def test_stream_ohlc_converges_to_batch_twin(spark, stream_dir, tmp_path):
    """Streaming OHLC bars (update mode, last emission per bar wins) must
    equal the batch ohlc_time_bars aggregate over the same fixture."""
    from db_core_spark.streaming import stream_ohlc_bars

    got_rows = run_to_memory(
        stream_ohlc_bars(events_stream(spark, stream_dir)),
        "update",
        str(tmp_path / "ck"),
    ).collect()
    final = {}
    for r in got_rows:  # update-mode refinements: larger volume = later emission
        k = (r.bar_hour, r.event_type)
        prev = final.get(k)
        if prev is None or r.volume >= prev[-1]:
            final[k] = (r.open, r.high, r.low, r.close, r.volume)
    from db_core_spark.registry import all_queries

    expect = {
        (r.bar_hour, r.event_type): (r.open, r.high, r.low, r.close, r.volume)
        for r in all_queries()["ohlc_time_bars"].fn(spark, SF_SMALL).collect()
    }
    assert final == expect


@pytest.mark.heavy
def test_session_overlap_streams_converge_to_batch_twin(spark, stream_dir, tmp_path):
    """Two independently-sessionized streams (clicks, purchases) overlap-join
    downstream of their sinks — the production shape for cross-stream
    session overlap (one streaming query cannot join two streaming
    aggregates). Checks: (a) every live-emitted session interval is EXACTLY
    a batch gap-session interval (same [first, last+gap) convention as the
    oracle-checked batch twin), (b) the overlap join over live sessions
    equals the join over batch sessions restricted to live-emitted session
    keys — so the streamed pipeline converges to stream_session_overlap_batch
    on completed sessions."""
    from db_core_spark.queries.streaming_batch import _gap_session_intervals
    from db_core_spark.streaming import session_overlap_join

    live = {}
    for etype in ("click", "purchase"):
        got = run_to_memory(
            session_counts(
                events_stream(spark, stream_dir).filter(F.col("event_type") == etype),
                watermark="30 minutes",
            ),
            "append",
            str(tmp_path / f"ck_{etype}"),
        )
        live[etype] = got

    gap_us = 1800 * 1000 * 1000
    batch = {
        etype: {
            (r.user_id, r.start_us, r.end_us)
            for r in _gap_session_intervals(batch_events(spark), etype, gap_us).collect()
        }
        for etype in ("click", "purchase")
    }

    def as_keys(df):
        return {
            (
                r.user_id,
                int(r.session_start.timestamp() * 1_000_000),
                int(r.session_end.timestamp() * 1_000_000),
            )
            for r in df.collect()
        }

    live_keys = {t: as_keys(df) for t, df in live.items()}
    for t in ("click", "purchase"):
        assert live_keys[t], f"no {t} sessions emitted"
        assert live_keys[t] <= batch[t], f"live {t} sessions not a subset of batch sessions"

    got_pairs = {
        (
            r.user_id,
            int(r.c_start.timestamp() * 1_000_000),
            int(r.p_start.timestamp() * 1_000_000),
            r.click_events,
            r.purchase_events,
        )
        for r in session_overlap_join(live["click"], live["purchase"]).collect()
    }

    # expected: batch-side overlap pairs restricted to live-emitted sessions
    def overlaps(c, p):
        return c[1] <= p[2] and p[1] <= c[2]

    expect_pairs = set()
    ev_counts = {}
    for t in ("click", "purchase"):
        for r in _gap_session_intervals(batch_events(spark), t, gap_us).collect():
            ev_counts[(t, r.user_id, r.start_us)] = r.n_events
    for c in live_keys["click"]:
        for p in live_keys["purchase"]:
            if c[0] == p[0] and overlaps(c, p):
                expect_pairs.add(
                    (
                        c[0],
                        c[1],
                        p[1],
                        ev_counts[("click", c[0], c[1])],
                        ev_counts[("purchase", p[0], p[1])],
                    )
                )
    assert got_pairs == expect_pairs


def test_stream_attribution_equals_batch_twin(spark, stream_dir, tmp_path):
    """After the final micro-batch, the union of streamed attribution rows
    must equal the batch attribution_last_touch output exactly."""
    from db_core_spark.registry import all_queries
    from db_core_spark.streaming import stream_attribution_last_touch

    got = run_to_memory(
        stream_attribution_last_touch(events_stream(spark, stream_dir)),
        "update",
        str(tmp_path / "ck"),
    )
    streamed = {
        (r.purchase_id, r.user_id, r.attributed_to, r.secs_since)
        for r in got.collect()
    }
    expect = {
        (r.purchase_id, r.user_id, r.attributed_to, r.secs_since)
        for r in all_queries()["attribution_last_touch"].fn(spark, SF_SMALL).collect()
    }
    assert streamed == expect and streamed


def test_streamed_window_psi_equals_batch_monitor(spark, stream_dir, tmp_path):
    """The live drift monitor is the watermarked tumbling count stream with
    the PSI fold running downstream of the sink; after the final
    micro-batch its PSI per window must equal the batch drift_psi_windowed
    query bit-for-bit."""
    from db_core_spark.queries.timeseries import drift_psi_windowed, psi_from_counts

    # live: 6h tumbling counts per type, update mode -> final counts per key
    got = run_to_memory(
        tumbling_counts(events_stream(spark, stream_dir), window="6 hours"),
        "update",
        str(tmp_path / "ck"),
    )
    final = {}
    for r in got.collect():
        final[(r.window_start, r.event_type)] = r.n_events
    counts = spark.createDataFrame(
        [(int(ws.timestamp()), et, int(n)) for (ws, et), n in final.items()],
        "window_start long, event_type string, n long",
    )
    base = (
        batch_events(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("bn"))
    )
    live_psi = {
        r.window_start: (r.n_events, r.psi)
        for r in psi_from_counts(counts, base).collect()
    }
    expect = {
        r.window_start: (r.n_events, r.psi)
        for r in drift_psi_windowed(spark, SF_SMALL).collect()
    }
    assert live_psi == expect and live_psi


def test_stream_incremental_dedup_converges_to_batch_semantics(spark, tmp_path):
    """Streamed corpus-anti + within-stream dedup must keep exactly the
    batch-computed set of fresh content hashes: no corpus hash survives,
    every fresh hash survives exactly once."""
    from db_core_spark.streaming import (
        documents_stream,
        stage_documents_files,
        stream_incremental_dedup,
    )
    from db_core_spark.tables import table

    stream_dir = stage_documents_files(spark, SF_SMALL, str(tmp_path / "docs"))
    d = table(spark, SF_SMALL, "documents")
    h = F.sha2(F.col("text"), 256)
    # "corpus" = hashes of the first 40% of ids (pretend prior ingest)
    cutoff = 200
    corpus = d.filter(F.col("doc_id") < cutoff).select(h.alias("h")).distinct()
    got = run_to_memory(
        stream_incremental_dedup(documents_stream(spark, stream_dir), corpus),
        "append",
        str(tmp_path / "ck"),
    )
    kept = [(r.h, r.doc_id) for r in got.collect()]
    kept_hashes = [x[0] for x in kept]
    assert len(kept_hashes) == len(set(kept_hashes)), "a hash survived twice"
    corpus_hashes = {r.h for r in corpus.collect()}
    assert not (set(kept_hashes) & corpus_hashes), "a corpus repost survived"
    expect_fresh = {
        r.h
        for r in d.filter(F.col("doc_id") >= cutoff).select(h.alias("h")).distinct().collect()
    } - corpus_hashes
    assert set(kept_hashes) == expect_fresh


@pytest.mark.heavy
def test_native_stream_writer_exactly_once(spark, stream_dir, tmp_path):
    """.writeStream.format('versioned'): one ACID manifest per micro-batch
    carrying (writer, epoch); the snapshot equals the batch fixture, and a
    REPLAYED epoch (crash between sink commit and checkpoint advance) is
    detected before publish — no duplicate rows in snapshot or CDC feed."""
    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.sources.versioned_datasource import (
        VersionedStreamWriter,
        register,
    )
    from db_core_spark.streaming import events_stream

    register(spark)
    src = events_stream(spark, stream_dir)
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_native"), key_cols=["event_id"], schema=src.schema
    )
    q = (
        src.writeStream.format("versioned")
        .option("path", vt.path)
        .option("checkpointLocation", str(tmp_path / "ck_native"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = batch_events(spark)
    assert vt.snapshot().count() == want.count()
    epochs = [
        (m["writer"], m["epoch"])
        for m in vt._manifests()
        if m.get("writer") is not None
    ]
    assert len(epochs) >= 2  # one commit per non-empty micro-batch
    assert len(set(epochs)) == len(epochs)  # no epoch published twice

    # replay: stage fresh parts for an ALREADY-PUBLISHED epoch and commit —
    # must be a no-op (staged files discarded, no new manifest, count flat)
    w = VersionedStreamWriter(
        src.schema,
        {"path": vt.path, "checkpointlocation": str(tmp_path / "ck_native")},
    )
    msg = w.write(iter(want.limit(3).collect()))
    before = len(vt._manifests())
    w.commit([msg], batchId=epochs[0][1])
    assert len(vt._manifests()) == before
    assert vt.snapshot().count() == want.count()

    # a NEW epoch through the same path does land, exactly once
    msg2 = w.write(iter(want.limit(2).collect()))
    w.commit([msg2], batchId=max(e for _, e in epochs) + 1000)
    assert len(vt._manifests()) == before + 1
    assert vt.snapshot().count() == want.count()  # upsert of existing keys


def test_native_stream_writer_abort_discards_stage(spark, stream_dir, tmp_path):
    """A failed micro-batch's abort() removes every staged part: nothing
    under the staging dir survives, no manifest was published, and the
    table's visible state is untouched."""
    import os

    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.sources.versioned_datasource import VersionedStreamWriter

    src_schema = batch_events(spark).schema
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_abort"), key_cols=["event_id"], schema=src_schema
    )
    w = VersionedStreamWriter(
        src_schema, {"path": vt.path, "writerid": "w_abort"}
    )
    msg = w.write(iter(batch_events(spark).limit(4).collect()))
    staged = [os.path.join(w.stage_root, rel) for rel in msg.rel_paths]
    assert staged and all(os.path.exists(p) for p in staged)
    before = len(vt._manifests())
    w.abort([msg], batchId=0)
    assert not any(os.path.exists(p) for p in staged)
    assert len(vt._manifests()) == before
    assert vt.snapshot().count() == 0


def test_native_stream_writer_conflict_with_concurrent_append(spark, tmp_path):
    """A concurrent batch commit that lands between the stream writer's
    last publish and its next epoch, touching the SAME keys, must raise
    ConflictError (no silent lost update); disjoint keys must commit."""
    import pytest as _pytest

    from db_core_spark.plans.versioned import ConflictError, VersionedTable
    from db_core_spark.sources.versioned_datasource import VersionedStreamWriter

    ev = batch_events(spark)
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_conflict"), key_cols=["event_id"], schema=ev.schema
    )
    w = VersionedStreamWriter(ev.schema, {"path": vt.path, "writerid": "w1"})
    rows = ev.limit(6).collect()

    # epoch 0 lands
    w.commit([w.write(iter(rows[:3]))], batchId=0)
    assert vt.snapshot().count() == 3

    # a concurrent txn updates one of the SAME keys after the publish
    txn = vt.begin()
    txn.upsert(spark.createDataFrame([rows[0]], ev.schema))
    txn.commit()

    # epoch 1 rewrites that key -> overlap with the concurrent commit
    with _pytest.raises(ConflictError):
        w.commit([w.write(iter(rows[:1]))], batchId=1)

    # disjoint keys sail through
    w2 = VersionedStreamWriter(ev.schema, {"path": vt.path, "writerid": "w2"})
    w2.commit([w2.write(iter(rows[3:6]))], batchId=0)
    assert vt.snapshot().count() == 6


def test_native_stream_writer_conflict_across_fresh_instances(spark, tmp_path):
    """PySpark builds a fresh stream writer for every micro-batch commit, so
    the conflict window must open at this writer's own newest manifest, not
    at the instance's construction: a concurrent commit to an epoch's keys
    between two epochs raises ConflictError, a disjoint epoch commits."""
    import pytest as _pytest

    from db_core_spark.plans.versioned import ConflictError, VersionedTable
    from db_core_spark.sources.versioned_datasource import VersionedStreamWriter

    ev = batch_events(spark)
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_fresh"), key_cols=["event_id"], schema=ev.schema
    )
    opts = {"path": vt.path, "writerid": "w1"}
    rows = ev.limit(6).collect()
    w = VersionedStreamWriter(ev.schema, opts)
    w.commit([w.write(iter(rows[:3]))], batchId=0)

    txn = vt.begin()
    txn.upsert(spark.createDataFrame([rows[0]], ev.schema))
    txn.commit()

    w = VersionedStreamWriter(ev.schema, opts)  # built after the txn
    with _pytest.raises(ConflictError):
        w.commit([w.write(iter(rows[:1]))], batchId=1)
    w = VersionedStreamWriter(ev.schema, opts)
    w.commit([w.write(iter(rows[3:6]))], batchId=1)
    assert vt.snapshot().count() == 6


def test_stream_epoch_that_loses_its_claim_leaves_no_op_dir(spark, tmp_path):
    """Two stream writers upsert one key: the epoch that loses the conflict
    check publishes nothing, and removes the op dir it moved its staged
    files into, so every tsn= dir under data/ is named by a manifest."""
    import os

    import pytest as _pytest

    from db_core_spark.plans.versioned import ConflictError, VersionedTable, log_names, read_manifest
    from db_core_spark.sources.versioned_datasource import VersionedStreamWriter

    ev = batch_events(spark)
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_lost"), key_cols=["event_id"], schema=ev.schema
    )
    rows = ev.limit(2).collect()
    txn = vt.begin()
    txn.upsert(spark.createDataFrame(rows, ev.schema))
    txn.commit()
    w1 = VersionedStreamWriter(ev.schema, {"path": vt.path, "writerid": "w1"})
    w2 = VersionedStreamWriter(ev.schema, {"path": vt.path, "writerid": "w2"})
    w1.commit([w1.write(iter(rows[:1]))], batchId=0)
    with _pytest.raises(ConflictError):
        w2.commit([w2.write(iter(rows[:1]))], batchId=0)

    data = os.path.join(vt.path, "data")
    on_disk = {d for d in os.listdir(data) if d.startswith("tsn=")}
    named = {
        os.path.basename(os.path.dirname(op["dir"]))
        for _, _, name in log_names(vt.path)
        for op in read_manifest(vt.path, name)["ops"]
    }
    assert len(named) == 2
    assert on_disk == named


def test_stream_trending_topk_converges_to_batch(spark, stream_dir, tmp_path):
    """Live trending: after the bounded stream drains, the sink view's
    per-window top-3 equals the batch operator's answer (rank re-derived
    per batch over incrementally maintained counts). retain=None is the
    explicit whole-history mode this comparison needs — the production
    default evicts windows beyond the watermark horizon (r10)."""
    from db_core_spark.registry import all_queries
    from db_core_spark.streaming.ops import stream_trending_topk

    q = stream_trending_topk(
        events_stream(spark, stream_dir), sink_table="trending_sink", retain=None
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start, r.event_type, r.n_events, r.rk)
        for r in spark.table("trending_sink").collect()
    }
    want_df = all_queries()["window_topk_trending"].fn(spark, SF_SMALL)
    want = {
        (r.h, r.event_type, r.n, r.rk) for r in want_df.collect()
    }
    assert got == want and len(got) > 0


def test_stream_trending_topk_evicts_beyond_watermark_horizon(
    spark, stream_dir, tmp_path
):
    """r10 (r9 verdict #4): the live-trends sink's driver dict must NOT
    grow one entry per window x event_type forever — with the default
    retain="watermark", windows trailing the newest window_start by more
    than the watermark horizon are evicted before each re-rank. The
    fixture spans ~30 days (hundreds of hourly windows); after draining,
    the sink view must hold only the <= 3 windows inside the 2-hour
    horizon, each with the batch operator's counts and ranks."""
    import datetime

    from db_core_spark.registry import all_queries
    from db_core_spark.streaming.ops import stream_trending_topk

    q = stream_trending_topk(
        events_stream(spark, stream_dir),
        sink_table="trending_sink_evict",
        watermark="2 hours",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start, r.event_type, r.n_events, r.rk)
        for r in spark.table("trending_sink_evict").collect()
    }
    rows = all_queries()["window_topk_trending"].fn(spark, SF_SMALL).collect()
    mx = max(r.h for r in rows)
    floor = mx - datetime.timedelta(hours=2)
    want = {(r.h, r.event_type, r.n, r.rk) for r in rows if r.h >= floor}
    assert got == want and got
    # state is bounded: horizon/window + 1 windows survive, out of the
    # fixture's hundreds — the eviction demonstrably fired
    assert len({ws for ws, _, _, _ in got}) <= 3 < len({r.h for r in rows})


def test_stream_session_bounce_converges_to_batch(spark, stream_dir, tmp_path):
    """Native streaming session windows (30-min gap, append mode after
    watermark finalization) produce the same daily bounce rate as the
    batch lag/cumsum sessionization twin — the two session definitions
    are semantically identical for point events."""
    from db_core_spark.registry import all_queries
    from db_core_spark.streaming import events_stream, run_to_memory, session_counts

    got_sessions = run_to_memory(
        session_counts(events_stream(spark, stream_dir), gap="30 minutes"),
        "append",
        str(tmp_path / "ck_bounce"),
    )
    live = (
        got_sessions.groupBy(F.col("session_start").cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .collect()
    )
    want_all = {
        (r.d, r.n_sessions, r.n_bounces)
        for r in all_queries()["session_bounce_rate_daily"]
        .fn(spark, SF_SMALL)
        .select("d", "n_sessions", "n_bounces")
        .collect()
    }
    # append mode withholds sessions the final watermark never passed:
    # the bounded stream's LAST day stays partially unfinalized, exactly
    # the closed-windows-only contract — compare the finalized days
    last = max(d for d, _, _ in want_all)
    want = {t for t in want_all if t[0] < last}
    got = {(r.d, r.n_sessions, r.n_bounces) for r in live if r.d < last}
    assert got == want and len(got) > 0


def test_native_stream_writer_identity_per_checkpoint(spark, tmp_path):
    """Regression: the default writer identity must change with the
    checkpoint location. A restart with a NEW checkpoint resets batchId to
    0 — under a table-path-only identity its early epochs would match the
    old run's (writer, epoch) manifests and be silently dropped. And with
    neither writerId nor checkpointLocation the sink must refuse."""
    import pytest as _pytest

    from db_core_spark.plans.versioned import VersionedTable
    from db_core_spark.sources.versioned_datasource import VersionedStreamWriter

    ev = batch_events(spark)
    vt = VersionedTable.create(
        spark, str(tmp_path / "vt_ident"), key_cols=["event_id"], schema=ev.schema
    )
    rows = ev.limit(4).collect()

    with _pytest.raises(ValueError, match="writerId"):
        VersionedStreamWriter(ev.schema, {"path": vt.path})

    # run 1 (checkpoint A) publishes epoch 0
    wa = VersionedStreamWriter(
        ev.schema, {"path": vt.path, "checkpointlocation": str(tmp_path / "ckA")}
    )
    wa.commit([wa.write(iter(rows[:2]))], batchId=0)
    assert vt.snapshot().count() == 2

    # run 2 restarts with checkpoint B: its epoch 0 must LAND, not be
    # treated as a replay of run 1's epoch 0
    wb = VersionedStreamWriter(
        ev.schema, {"path": vt.path, "checkpointlocation": str(tmp_path / "ckB")}
    )
    wb.commit([wb.write(iter(rows[2:4]))], batchId=0)
    assert vt.snapshot().count() == 4

    # same checkpoint replaying its own epoch is still skipped
    wb2 = VersionedStreamWriter(
        ev.schema, {"path": vt.path, "checkpointlocation": str(tmp_path / "ckB")}
    )
    before = len(vt._manifests())
    wb2.commit([wb2.write(iter(rows[:2]))], batchId=0)
    assert len(vt._manifests()) == before
    assert vt.snapshot().count() == 4


@pytest.mark.heavy
def test_streamed_window_ks_equals_batch_monitor(spark, stream_dir, tmp_path):
    """The live value-distribution drift monitor is the watermarked
    tumbling BIN-count stream (bin edges fixed, as a deployed monitor
    takes them from the reference fit) with the KS fold downstream of the
    sink; after the final micro-batch its per-window KS must equal the
    batch drift_ks_windowed query bit-for-bit."""
    from db_core_spark.queries.timeseries import (
        drift_ks_windowed,
        ks_from_binned_counts,
    )
    from db_core_spark.streaming.ops import tumbling_value_bins

    b = batch_events(spark).agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    ).collect()[0]
    width = (b.vmax - b.vmin) / 64.0
    got = run_to_memory(
        tumbling_value_bins(events_stream(spark, stream_dir), b.vmin, width),
        "update",
        str(tmp_path / "ck"),
    )
    final = {}
    for r in got.collect():
        final[(r.window_start, r.bin)] = r.n
    counts = spark.createDataFrame(
        [(int(ws.timestamp()), int(bn), int(n)) for (ws, bn), n in final.items()],
        "window_start long, bin long, n long",
    )
    base = counts.groupBy("bin").agg(F.sum("n").alias("bn"))
    live = {
        r.window_start: (r.n_events, r.ks_stat)
        for r in ks_from_binned_counts(counts, base).collect()
    }
    expect = {
        r.window_start: (r.n_events, r.ks_stat)
        for r in drift_ks_windowed(spark, SF_SMALL).collect()
    }
    assert live == expect and live


def test_value_bins_clamp_out_of_range_both_sides(spark):
    """With FIXED reference edges (the deployed-monitor case) live values can
    fall outside [vmin, vmin+64*width). Both tails must clamp to the edge
    bins: a below-vmin value that binned negative would vanish from the
    baseline spine join in ks_from_binned_counts while still inflating the
    window total, corrupting the KS statistic. (withWatermark is a no-op on
    a batch frame, so the binning expression is exercised directly.)"""
    import datetime

    from db_core_spark.streaming.ops import tumbling_value_bins

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0, -1e9), (t0, -0.001), (t0, 0.5), (t0, 63.5), (t0, 64.0), (t0, 1e9)],
        "ts timestamp, value double",
    )
    got = {
        (r.bin): r.n for r in tumbling_value_bins(df, vmin=0.0, width=1.0).collect()
    }
    assert got == {0: 3, 63: 3}  # below-range -> bin 0, above-range -> bin 63
    assert sum(got.values()) == df.count()  # no mass dropped


def test_epoch_replay_check_is_incremental(spark, tmp_path):
    """With a closure-held cache (what the sinks pass), the replay check
    opens only manifests published since the previous batch — not the whole
    log every epoch. A 100k-epoch stream must not pay O(commits^2) JSON
    reads over its life."""
    from pyspark.sql import types as T

    from db_core_spark.plans import VersionedTable
    from db_core_spark.streaming.ops import commit_microbatch

    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.LongType())]
    )
    vt = VersionedTable.create(
        spark, str(tmp_path / "inc"), key_cols=["k"], schema=schema
    )
    cache: dict = {}
    for e in range(4):
        df = spark.createDataFrame([(e, e * 10)], schema)
        assert commit_microbatch(vt, df, e, "w", cache=cache) is True

    reads = {"n": 0}
    orig = vt._read_manifest

    def counting(name):
        reads["n"] += 1
        return orig(name)

    vt._read_manifest = counting
    try:
        # warm cache: only the previous epoch's own manifest is above the
        # watermark; a replay decision costs O(1) reads, not O(commits)
        df = spark.createDataFrame([(99, 0)], schema)
        assert commit_microbatch(vt, df, 3, "w", cache=cache) is False  # replay
        assert reads["n"] <= 1, f"re-scanned the log: {reads['n']} manifest reads"
        # a cold cache (fresh restart) still answers correctly via full scan
        assert commit_microbatch(vt, df, 3, "w") is False
        assert commit_microbatch(vt, df, 2, "w", cache={}) is False
    finally:
        vt._read_manifest = orig
    assert commit_microbatch(vt, spark.createDataFrame([(4, 40)], schema), 4, "w", cache=cache) is True


def test_stream_epoch_opens_only_the_manifests_since_its_last(spark, tmp_path, monkeypatch):
    """The sink's replay check scans the log newest-first and stops at this
    writer's newest manifest with an epoch <= batchId (a writer's epochs
    only grow), so an epoch's commit reads the manifests published since
    the writer's previous epoch, not the table's whole history. With 200
    commits before the writer's first epoch, that epoch opens all 200; the
    next opens only its own previous manifest, and one after three other
    commits opens those three and its own. A replayed epoch is still
    found and dropped."""
    from pyspark.sql import types as T

    from db_core_spark.plans import VersionedTable
    from db_core_spark.sources import versioned_datasource as vds

    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    vt = VersionedTable.create(spark, str(tmp_path / "log"), key_cols=["k"], schema=schema)

    def other_commits(n):
        for i in range(n):
            txn = vt.begin()
            txn.delete_keys([{"k": -1 - i}])
            txn.commit()

    opened: list[str] = []

    def counting(path, name):
        opened.append(name)
        return read_manifest(path, name)

    read_manifest = vds.read_manifest
    monkeypatch.setattr(vds, "read_manifest", counting)

    def epoch(batch_id, rows):
        opened.clear()
        w = vds.VersionedStreamWriter(schema, {"path": vt.path, "writerid": "w"})
        w.commit([w.write(iter(rows))], batchId=batch_id)
        return len(opened)

    other_commits(200)
    assert epoch(0, [(1, "a")]) == 200
    assert epoch(1, [(2, "b")]) == 1
    other_commits(3)
    assert epoch(2, [(3, "c")]) == 4
    assert epoch(2, [(3, "replayed")]) == 1
    assert vt.latest_csn() == 206
    assert sorted(tuple(r) for r in vt.snapshot().collect()) == [(1, "a"), (2, "b"), (3, "c")]
