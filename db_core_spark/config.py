"""Engine configuration — the Spark mapping of the reference's ConfigMt
(/root/reference/src/system/config.rs:149-164, 16 parameters).

Parameters whose job Spark's own machinery performs are intentionally NOT
re-exposed here; per SURVEY.md §4.2 they map to session/cluster config:

| ConfigMt param                  | Disposition                              |
|---------------------------------|------------------------------------------|
| block_size (4096)               | -> chunk_size (object byte-stream chunk) |
| block_buf_size (32 MiB)         | Spark executor memory / block manager    |
| log_writer_buf_size, max_log_file_size | n/a — manifests are per-commit    |
| checkpoint_data_threshold (10 MiB) | -> checkpoint_every_commits (group-  |
|                                 |    commit model counts commits, not bytes)|
| version_retain_time (3600 s)    | -> version_retain_seconds                |
| writer_num, block_fill_ratio    | Spark task writers / parquet row groups  |
| lock striping (tran_mgr)        | -> plans.versioned.MAX_TRACKED_KEYS, a   |
|                                 |    constant row bound above which a      |
|                                 |    commit's write-set (read from its op  |
|                                 |    files) is untracked                   |
| wait_for timeouts (tran_mgr.rs:108-127) | -> conflict_retry_attempts       |

Session-level knobs (cores, shuffle partitions, AQE, Arrow) live in
db_core_spark.session.get_spark.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    #: byte-stream object chunk size (reference block_size, datastore.rs:92-96)
    chunk_size: int = 4096
    #: key-hash buckets of the physical layout (at least 1); size so one
    #: bucket is ~10-50 GB at the target scale
    num_buckets: int = 16
    #: MVCC version retention window for vacuum (config.rs:162)
    version_retain_seconds: float = 3600.0
    #: auto-checkpoint trigger for maybe_checkpoint(): materialize when this
    #: many commits accumulated since the last checkpoint (the group-commit
    #: analog of checkpoint_data_threshold, config.rs:161 + checkpointer.rs
    #: threshold wake-up, src/system/checkpointer.rs:86-94)
    checkpoint_every_commits: int = 16
    #: run maybe_checkpoint() after every successful batch commit — the
    #: in-line analog of the reference's background checkpointer thread
    #: (src/system/checkpointer.rs:44-176): Spark drivers are transient, so
    #: instead of a daemon the maintenance check rides the commit path and
    #: pays only a manifest-name listing when below threshold. Streaming
    #: sinks opt in via stream_into_versioned_table(auto_maintain=True).
    auto_maintain: bool = False
    #: optimistic-commit retries for streaming sinks (the optimistic analog
    #: of pessimistic lock wait timeouts, tran_mgr.rs:108-127)
    conflict_retry_attempts: int = 5
    #: capture CDC before-images at commit time: updates emit
    #: update_preimage rows and deletes carry the old column values, so a
    #: downstream incremental materialized view can retract aggregates
    #: without keeping its own key state. Costs one key-pruned snapshot
    #: read per commit — off by default.
    cdc_preimages: bool = False
    #: bounded-pending window for multi-table group commits: a reader that
    #: finds a per-table manifest whose group marker is still undecided
    #: waits until the manifest is this old, then force-aborts the group
    #: (decide-by-atomic-link, first writer wins). Must exceed the healthy
    #: gap between per-table manifest publish and the group marker publish
    #: (seconds); the analog of the reference's lock wait timeout
    #: (tran_mgr.rs:108-127) applied to the commit point itself.
    group_pending_grace_seconds: float = 60.0
    #: FLOOR on the age below which vacuum's orphan sweep will never
    #: delete an unreferenced op/staging dir, INDEPENDENT of the caller's
    #: retain_seconds. Version-history reclamation at retain_seconds=0 is
    #: legitimate (drop checkpoint-covered history now); but an orphan dir
    #: may be a concurrent writer's staged-but-unclaimed transaction —
    #: sweeping it would let that writer publish a manifest referencing
    #: deleted files, breaking every later snapshot read. Must comfortably
    #: exceed the longest healthy stage->publish gap.
    orphan_min_age_seconds: float = 600.0


DEFAULT_CONFIG = EngineConfig()
