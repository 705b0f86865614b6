"""Streaming operators: the same event-time semantics as the batch twins in
queries/streaming_batch.py, compiled against an unbounded source.

The reference has no streaming (SURVEY.md §2C — its only 'stream' is the
WAL); this surface is goal-derived. The streaming checkpointLocation plays
the role of the reference's checkpointer (src/system/checkpointer.rs:1-10):
bounded-state recovery of an unbounded computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from db_core_spark.operators.litframe import literal_frame


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type. Append-mode
    emits a window only once the watermark passes its end — the streaming
    finalization contract."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tumbling_value_bins(
    events: DataFrame,
    vmin: float,
    width: float,
    window: str = "6 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling VALUE-bin counts — the live arm of the KS
    drift monitor (`queries/timeseries.py::drift_ks_windowed`). Bin edges
    (vmin, width) are parameters: a live monitor compares against a FIXED
    reference fit, so its edges are configuration, not stream state. The
    KS fold itself (`ks_from_binned_counts`) runs downstream of the sink
    on the |windows| x 64 count spine; pytest pins streamed KS bit-equal
    to the batch query. Values outside the fixed reference range clamp to
    the edge bins on BOTH sides (below-vmin mass lands in bin 0, mirroring
    the top clamp) — otherwise negative bin ids fall off the baseline spine
    in ks_from_binned_counts while still inflating the window total,
    corrupting the statistic."""
    bin_col = F.greatest(
        F.lit(0),
        F.least(F.lit(63), F.floor((F.col("value") - F.lit(vmin)) / F.lit(width))),
    ).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "bin",
            "n",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based), finalized by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on (user_id, event_type) with watermark-bounded
    state (dropDuplicates keeps the first arrival; state expires past the
    watermark — unbounded-input-safe)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["user_id", "event_type"])


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running per-user
    event count + last-seen timestamp, emitted per micro-batch (update mode).
    The arbitrary-state API is the escape hatch for operators window
    aggregation can't express (reference parity: none needed, goal-derived)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: PLC0415

    output_schema = "user_id long, n_events long, last_seen timestamp"
    state_schema = "n long, last_seen timestamp"

    def update(key, pdfs, state: GroupState):
        n, last = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            mx = pd.to_datetime(pdf["ts"]).max()
            last = mx if last is None or mx > pd.Timestamp(last) else last
        state.update((n, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_seen": [last]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf protocol to the JVM
    state server; this container ships pyspark 4.1 but NOT google.protobuf
    (and installs are off-limits), so the capability is gated. On any
    standard deployment (protobuf is a pyspark install dependency) this
    returns True and tws_user_value_stats runs as written."""
    try:
        import google.protobuf  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def tws_user_value_stats(events: DataFrame) -> DataFrame:
    """Per-user running value statistics via transformWithStateInPandas —
    the Spark 4 arbitrary-state API (typed named states, timers, TTL) that
    supersedes applyInPandasWithState. A ValueState row holds (n, sum, max)
    per user; each micro-batch folds its Arrow batches into the state and
    emits the running totals (update mode). State is per-key and
    partition-local — at 100 TB the state store shards with the shuffle,
    exactly like the built-in streaming aggregations.

    Requires the RocksDB state store provider
    (`spark.sql.streaming.stateStore.providerClass`) and google.protobuf on
    the Python side — see :func:`tws_available`; the applyInPandasWithState
    twin (`stateful_user_counts`) covers the same semantics where this API
    is unavailable."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires google.protobuf, which this "
            "environment does not provide; use stateful_user_counts "
            "(applyInPandasWithState) instead"
        )
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserValueStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n long, sum_value double, max_value double"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._state.exists():
                n, s, mx = self._state.get()
            else:
                n, s, mx = 0, 0.0, None
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
                bmx = float(pdf["value"].max())
                mx = bmx if mx is None or bmx > mx else mx
            self._state.update((n, s, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(s, 6)],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserValueStats(),
        outputStructType="user_id long, n_events long, sum_value double, max_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table
    (events.user_id -> customer). The static side is re-resolved every
    micro-batch (picks up dim updates) and broadcast — the stream side is
    never shuffled, which is the only sustainable shape when the stream is
    the 100 TB side. Stateless: no watermark needed for an inner
    stream-static join."""
    d = F.broadcast(
        dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation_key"),
        )
    )
    return events.join(d, "user_id").select(
        "event_id", "ts", "user_id", "event_type", "value", "segment", "nation_key"
    )


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: click followed by a purchase from the same
    user within max_gap. Both sides are watermarked and the join condition
    bounds event-time distance, so Spark can expire buffered state — the
    required discipline for an unbounded x unbounded join (state is
    O(watermark window), not O(stream))."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def _advance_writer_epoch(table, writer_id: str, cache: dict, durable=None) -> int | None:
    """Incrementally fold this writer's (writer, epoch) manifests published
    since the last call into ``cache`` ({'csn': watermark, 'max_epoch':
    highest durable epoch}). Only manifests ABOVE the watermark are opened,
    so a long-running stream pays O(new commits) JSON reads per micro-batch
    instead of re-scanning the whole log every epoch (O(commits²) over the
    stream's life — the scale cost the full-scan replay check had).

    Sound because csn manifests publish in order (each commit links the
    lowest free csn, so a higher csn proves every lower one is on disk) and
    a writer's epochs commit in order (foreachBatch serializes epochs), so
    'epoch_id <= max durable epoch of this writer' ⇔ replayed. ``durable``
    filters manifests that carry the identity but never became visible
    (aborted group claims); decided markers are immutable, so a durable
    verdict is cacheable forever."""
    hi = cache.get("csn", 0)
    for csn, is_ck, name in table._log_names():
        if is_ck or csn <= cache.get("csn", 0):
            continue
        m = table._read_manifest(name)
        if (
            m.get("writer") == writer_id
            and m.get("epoch") is not None
            and (durable is None or durable(m))
        ):
            e = int(m["epoch"])
            if cache.get("max_epoch") is None or e > cache["max_epoch"]:
                cache["max_epoch"] = e
        hi = max(hi, csn)
    cache["csn"] = hi
    return cache.get("max_epoch")


def commit_microbatch(
    vt, batch_df: DataFrame, epoch_id: int, writer_id: str, cache: dict | None = None
) -> bool:
    """Commit one micro-batch into a VersionedTable exactly once.

    Idempotence: the manifest records (writer, epoch); a replayed batch whose
    epoch is <= this writer's highest committed epoch is skipped entirely
    (epochs commit in order under foreachBatch), so CDC readers
    (readChanges=true) never observe duplicate change rows — a
    dedup-at-read-time strategy would fix snapshots but not the change feed.
    A ConflictError from a concurrent writer is retried with a fresh txn
    (the staged data is re-written; the stream does not die).

    ``cache`` (pass a dict held across calls, as stream_into_versioned_table
    does) makes the replay check incremental: only manifests published since
    the previous batch are opened. Without it each call scans the full log —
    same answer, O(commits) reads per epoch.

    Returns True if this call published, False if the epoch was already
    committed."""
    from db_core_spark.plans.versioned import ConflictError  # noqa: PLC0415

    if batch_df.isEmpty():
        return False
    max_epoch = _advance_writer_epoch(vt, writer_id, cache if cache is not None else {})
    if max_epoch is not None and epoch_id <= max_epoch:
        return False  # replayed epoch: already durable, skip (exactly-once)
    retries = vt.config.conflict_retry_attempts
    for attempt in range(retries):
        txn = vt.begin()
        txn.upsert(batch_df)
        try:
            txn.commit(extra={"writer": writer_id, "epoch": epoch_id})
            return True
        except ConflictError:
            if attempt == retries - 1:
                raise
    return False


def stream_into_versioned_table(
    events: DataFrame, vt, checkpoint_dir: str, auto_maintain: bool = False
):
    """foreachBatch sink into a VersionedTable: each micro-batch commits as
    ONE ACID transaction (mirrors the reference's group commit — WAL flush
    per commit record, log_mgr/io.rs:99-103 — with the micro-batch as the
    group). Exactly-once: the manifest carries (writer, epoch) identity and
    a replayed epoch is skipped before any commit (see commit_microbatch),
    which holds for CDC readers too, not just snapshot reads.

    auto_maintain=True runs maybe_checkpoint() after each commit — the
    write-volume-driven maintenance of the reference's checkpointer thread
    (checkpointer.rs:86-94) riding the stream itself; below threshold it
    costs one name listing. Vacuum stays a deliberate operator action
    (retention windows are a policy decision, not sink plumbing).

    Returns the started StreamingQuery; caller awaits/stops it."""

    epoch_cache: dict = {}  # closure-held: incremental replay check

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        published = commit_microbatch(
            vt, batch_df, epoch_id, writer_id=checkpoint_dir, cache=epoch_cache
        )
        if published and auto_maintain:
            vt.maybe_checkpoint()

    return (
        events.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_stream_left_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, paired with a purchase
    from the same user within max_gap when one exists, null-padded
    otherwise. The outer (null) result for a click can only emit once the
    watermark proves no matching purchase can still arrive — so unmatched
    rows surface with watermark+gap delay, which is inherent to the
    semantics, not an implementation choice. Same bounded-state shape as
    the inner variant: both sides watermarked, event-time-bounded
    condition, state is O(watermark window)."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_value",
    )


def dedup_stream_within_watermark(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming dedup with TIME-BOUNDED keys: dropDuplicatesWithinWatermark
    deduplicates (user_id, event_type) only among rows whose event times
    fall within the watermark delay of each other, then EXPIRES the key —
    unlike dropDuplicates (dedup_stream), whose per-key state lives until
    the key's watermark passes and which therefore keeps one state entry
    per distinct key ever seen. For an unbounded key universe (e.g.
    event_id-level dedup over months of traffic) the WithinWatermark
    variant is the only shape whose state stays O(keys per window)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def stream_ewma_user_value(
    events: DataFrame, alpha: float = 0.3, max_events: int = 40
) -> DataFrame:
    """Streaming twin of the batch `ewma_user_value` operator: per-user
    recursive EWMA (y = (1-a)*y + a*x) maintained as O(1) state per key via
    applyInPandasWithState. Each micro-batch is folded in (ts, event_id)
    order; the staged source files are time-sliced, so per-user event-time
    order holds across micro-batches — the same in-order contract a Kafka
    key-partitioned topic gives. The batch kernel and this one run the
    identical float64 recurrence, so after the final micro-batch the emitted
    level is bit-equal to the batch result (pytest asserts it)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: PLC0415

    output_schema = "user_id long, n_events long, ewma double"
    state_schema = "n long, y double"

    def update(key, pdfs, state: GroupState):
        n, y = state.get if state.exists else (0, None)
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["value"].to_numpy():
                if n >= max_events:
                    break
                x = float(x)
                y = x if y is None else (1 - alpha) * y + alpha * x
                n += 1
        state.update((n, y))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma": [y]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_ohlc_bars(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the batch `ohlc_time_bars` operator: hourly
    open/high/low/close per event_type as a watermarked tumbling-window
    aggregate. Open/close use max_by/min_by on the (ts, event_id) struct —
    pure JVM aggregates, so the whole operator is a standard windowed
    hash aggregation with incremental state (no arbitrary-state API
    needed). Update mode refines bars as events arrive; append mode
    finalizes them past the watermark."""
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            F.col("win.start").alias("bar_hour"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def session_overlap_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Overlap-join two session tables (session_counts output shape:
    user_id, session_start, session_end, n_events) — which purchase
    sessions intersect which click sessions of the same user.

    Structured Streaming cannot join two streaming AGGREGATES inside one
    query (documented engine limitation: stream-stream joins require raw
    append-mode inputs, not stateful-aggregate outputs), so the production
    shape is session_window agg -> sink per side, then THIS join runs
    downstream — batch over the sinks, or a fresh stream over their change
    feed. The join hashes on user_id; the interval predicate evaluates
    inside each user's join group, bounded by that user's session count.
    Batch twin with the DuckDB oracle: queries/streaming_batch.py
    stream_session_overlap_batch (same [first, last+gap) convention)."""
    c = clicks.select(
        F.col("user_id"),
        F.col("session_start").alias("c_start"),
        F.col("session_end").alias("c_end"),
        F.col("n_events").alias("click_events"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("session_start").alias("p_start"),
        F.col("session_end").alias("p_end"),
        F.col("n_events").alias("purchase_events"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("c_start") <= F.col("p_end"))
            & (F.col("p_start") <= F.col("c_end")),
        )
        .drop("p_user_id")
    )


def stream_attribution_last_touch(
    events: DataFrame, lookback_us: int = 3600 * 1000 * 1000
) -> DataFrame:
    """Streaming twin of the batch `attribution_last_touch` operator: each
    purchase credits the user's most recent non-purchase touchpoint within
    the lookback, else 'direct'. State per user is O(1) — the (type,
    event-time) of the last touch — maintained by applyInPandasWithState;
    each micro-batch folds in (ts, event_id) order, and the staged source
    is time-sliced, so per-user order holds across batches (the Kafka
    key-partitioned in-order contract, same as stream_ewma_user_value).
    Emits one row per purchase as it arrives; after the final micro-batch
    the union of emissions equals the batch twin exactly (pytest-pinned)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: PLC0415

    output_schema = (
        "purchase_id long, user_id long, attributed_to string, secs_since long"
    )
    state_schema = "touch_type string, touch_us long"

    def update(key, pdfs, state: GroupState):
        touch_type, touch_us = state.get if state.exists else (None, None)
        out = {"purchase_id": [], "user_id": [], "attributed_to": [], "secs_since": []}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for eid, ts, etype in zip(
                pdf["event_id"], pdf["ts"], pdf["event_type"]
            ):
                us = int(ts.value) // 1000  # pandas ns -> us
                if etype == "purchase":
                    if touch_us is not None and us - touch_us <= lookback_us:
                        out["purchase_id"].append(int(eid))
                        out["user_id"].append(key[0])
                        out["attributed_to"].append(touch_type)
                        out["secs_since"].append((us - touch_us) // 1000000)
                    else:
                        out["purchase_id"].append(int(eid))
                        out["user_id"].append(key[0])
                        out["attributed_to"].append("direct")
                        out["secs_since"].append(None)
                else:
                    touch_type, touch_us = etype, us
        state.update((touch_type, touch_us))
        yield pd.DataFrame(
            {
                "purchase_id": pd.Series(out["purchase_id"], dtype="int64"),
                "user_id": pd.Series(out["user_id"], dtype="int64"),
                "attributed_to": pd.Series(out["attributed_to"], dtype="object"),
                "secs_since": pd.Series(out["secs_since"], dtype="object"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_incremental_dedup(docs: DataFrame, corpus_hashes: DataFrame) -> DataFrame:
    """Streaming arm of the batch `dedup_incremental_batch` operator: an
    unbounded document-ingest stream is deduplicated (1) against the
    existing corpus via a stream-static LEFT ANTI join on the content
    digest (the corpus hash index is static/broadcastable per batch —
    reposts die without their text ever entering state) and (2) within
    the stream itself via dropDuplicates on the digest (keyed state; at
    100 TB the key universe is bounded with
    dropDuplicatesWithinWatermark, see dedup_stream_within_watermark).
    Only the 32-byte digest enters join/state — never document text."""
    hashed = docs.withColumn("h", F.sha2(F.col("text"), 256))
    fresh = hashed.join(corpus_hashes, "h", "left_anti")
    return fresh.dropDuplicates(["h"]).select("doc_id", "source", "h")


def stream_into_database(events: DataFrame, db, checkpoint_dir: str, split_fn):
    """foreachBatch sink committing each micro-batch ATOMICALLY ACROSS
    MULTIPLE VersionedTables: ``split_fn(batch_df) -> {table_name: df}``
    decides what each table receives, and ONE group commit (plans/group.py
    marker protocol) publishes all of it — a reader can never observe the
    raw-events table ahead of its derived aggregate, the invariant the
    reference's single WAL commit record gives multi-object transactions
    (/root/reference/src/system/instance.rs:102-111).

    Exactly-once: the group's per-table manifests all carry
    (writer, epoch); group atomicity means ONE table's COMMITTED marker is
    proof the whole batch is durable, so the replay check scans each table
    until a hit. The (writer, epoch) match alone is NOT proof: an aborted
    group commit (conflict retries exhausted, or coordinator death between
    claim and marker followed by a reader force-abort) leaves its claimed
    per-table manifests on disk as empty commits still carrying those
    fields — treating one as durable would silently drop the replayed
    batch. So a manifest only counts when it has no group field (plain
    commit, durable by construction) or its group marker resolves to
    'committed'. ConflictError from concurrent writers retries the group
    with fresh staging (the stream does not die)."""
    from db_core_spark.plans.versioned import (  # noqa: PLC0415
        ConflictError,
        group_visible,
    )

    epoch_caches: dict[str, dict] = {}  # per-table incremental replay state

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for name in db.table_names():
            t = db.table(name)
            grace = t.config.group_pending_grace_seconds
            max_epoch = _advance_writer_epoch(
                t,
                checkpoint_dir,
                epoch_caches.setdefault(name, {}),
                durable=lambda m, g=grace: group_visible(m, g),
            )
            if max_epoch is not None and epoch_id <= max_epoch:
                return  # replayed epoch: already durable atomically
        parts = {n: df for n, df in split_fn(batch_df).items()}
        retries = db.config.conflict_retry_attempts
        for attempt in range(retries):
            g = db.begin()
            for name, df in parts.items():
                g.upsert(name, df)
            try:
                g.commit(extra={"writer": checkpoint_dir, "epoch": epoch_id})
                return
            except ConflictError:
                if attempt == retries - 1:
                    raise

    return (
        events.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def _interval_timedelta(spec: str):
    """Parse a Spark-style single-unit interval string ("2 hours",
    "30 minutes") into a ``datetime.timedelta``. Loud on anything else —
    the eviction horizon must never silently become zero."""
    import datetime  # noqa: PLC0415
    import re  # noqa: PLC0415

    m = re.fullmatch(r"\s*(\d+)\s+(second|minute|hour|day|week)s?\s*", spec)
    if not m:
        raise ValueError(f"unsupported interval spec: {spec!r}")
    return datetime.timedelta(**{m.group(2) + "s": int(m.group(1))})


def stream_trending_topk(
    events: DataFrame,
    sink_table: str,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "2 hours",
    retain: str | None = "watermark",
):
    """Live trending top-k: watermarked tumbling counts stream into a
    foreachBatch stage that folds each batch's UPDATED windows into a
    driver-side state dict and re-ranks — rank is not incrementally
    maintainable per-row (a new count can demote an arbitrary other row),
    so the correct streaming shape is incremental AGGREGATION in the
    engine + per-batch RANK over the tiny aggregated frame (the batch
    plan of window_topk_trending fed by streaming state). The per-batch
    emission is windows x types rows — dashboard-sized by construction —
    which is what makes the driver-side fold legitimate here and exactly
    how live-trends sinks work. Results publish to temp view
    ``sink_table`` as (window_start, event_type, n_events, rk).

    DRIVER STATE IS BOUNDED (r9 verdict #4): before each re-rank, keys
    whose window_start trails the newest window_start seen by more than
    the ``retain`` horizon are evicted — the engine's watermark already
    guarantees such windows receive no further updates, so on an
    unbounded stream the dict holds only horizon/window x types entries
    instead of one entry per window x type FOREVER. ``retain`` defaults
    to the watermark horizon (the natural streaming bound, event-time
    anchored so replays are deterministic); pass an explicit interval
    for a longer dashboard lookback, or ``None`` for the unbounded
    fold — only sensible for bounded replays (tests comparing against a
    whole-history batch answer)."""
    from pyspark.sql import Window as W

    counts = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    horizon = (
        None
        if retain is None
        else _interval_timedelta(watermark if retain == "watermark" else retain)
    )
    spark = events.sparkSession
    state: dict = {}

    def rank_batch(batch_df: DataFrame, epoch_id: int) -> None:
        for r in batch_df.collect():
            state[(r.window_start, r.event_type)] = r.n_events
        if horizon is not None and state:
            floor = max(ws for ws, _ in state) - horizon
            for key in [key for key in state if key[0] < floor]:
                del state[key]
        rows = [(ws, et, n) for (ws, et), n in state.items()]
        sdf = literal_frame(
            spark, rows, "window_start timestamp, event_type string, n_events long"
        )
        wr = W.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), "event_type"
        )
        (
            sdf.withColumn("rk", F.row_number().over(wr).cast("long"))
            .filter(F.col("rk") <= k)
            .createOrReplaceTempView(sink_table)
        )

    return (
        counts.writeStream.foreachBatch(rank_batch)
        .outputMode("update")
        .start()
    )
