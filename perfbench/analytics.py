"""Analytics workloads: a fixed set of registered queries on one fixture set.

The tables are the repo's deterministic analytics fixtures (TESTDATA.md,
FIXTURES.md), the same ones the tests and ``bench.py`` read; ``fixtures/``
holds byte-identical copies of the sf0.001 and sf0.01 sets, because a run
reads nothing outside its checkout.

Each query is one operation: ``registry.all_queries()[name].fn(spark,
sf_dir)`` followed by ``collect()``. Set-up runs one discarded pass at the
target scale whose results are checked against their DuckDB oracles
(``tools/check_oracle.compare_one``); the timed passes then check each
result's row count against the checked one.
"""

from __future__ import annotations

import dataclasses
import importlib.util
import os
import random
import time

from measure import geomean, summary

# The 17 headline queries of bench.py, plus two heavy-tail targets.
# versioned_restore_rebucket is left out: with its cold call it costs about
# 15 s of every run, more than the run budget leaves (see NOTES.md).
QUERIES = [
    "q1_pricing_summary",
    "q5_multiway_join",
    "join_inner_agg",
    "join_left_outer",
    "agg_count_distinct",
    "agg_rollup",
    "window_topk_per_group",
    "window_running_sum",
    "mvcc_snapshot_asof",
    "stream_tumbling_window",
    "stream_session_window",
    "dedup_exact_keep",
    "pipeline_corpus_prepare",
    "minhash_lsh_pairs",
    "knn_bruteforce_topk",
    "text_stats",
    "object_reassembly",
    "embedding_semantic_clusters",
    "events_interarrival_stats",
]

def _load_oracle_tools(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Fetched:
    """A query result already collected, in the shape ``compare_one`` reads
    (``collect()`` and ``columns``), so the oracle check reuses it instead of
    running the query again."""

    def __init__(self, df):
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


def run(ctx, sf_dir: str) -> dict:
    """The run seed orders the queries; the tables are fixed."""
    spark, qs = ctx.start_session()
    oracle = _load_oracle_tools(ctx.root)
    con = oracle.duck_con(sf_dir)

    # The discarded pass: every query once at the target scale, each result
    # checked against its DuckDB oracle. The oracle's time is not set-up of
    # the program and is left out of setup_s.
    failures: list[str] = []
    expected_rows: dict[str, int] = {}
    oracle_s = 0.0
    for name in random.Random(ctx.seed).sample(QUERIES, len(QUERIES)):
        try:
            got = _Fetched(qs[name].fn(spark, sf_dir))
            t0 = time.perf_counter()
            ok, msg = oracle.compare_one(
                spark, con, name, dataclasses.replace(qs[name], fn=lambda *_: got), sf_dir
            )
            oracle_s += time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - one broken query is a counted failure
            ok, msg = False, f"{type(exc).__name__}: {exc}"
        if ok:
            expected_rows[name] = len(got.rows)
        else:
            failures.append(f"{name}: {msg[:300]}")
    ctx.mark_setup(excluded_s=oracle_s)

    attempted = len(QUERIES)
    failed = len(failures)

    def one(name: str, tracer=None) -> float:
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                rows = qs[name].fn(spark, sf_dir).collect()
            else:
                with tracer.op("query", query=name):
                    with tracer.span("build"):
                        df = qs[name].fn(spark, sf_dir)
                    with tracer.span("action"):
                        rows = df.collect()
        except Exception as exc:  # noqa: BLE001
            failed += 1
            failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if len(rows) != expected_rows.get(name):
            failed += 1
            failures.append(f"{name}: {len(rows)} rows, oracle has {expected_rows.get(name)}")
        return dt

    detail: dict = {"data": sf_dir, "queries": QUERIES}
    if not ctx.trace:
        rng = random.Random(ctx.seed + 1)
        walls: dict[str, list[float]] = {q: [] for q in QUERIES}
        # whole passes, at least one, so that every query has as many
        # samples as every other however fast the run goes
        t0 = time.perf_counter()
        passes = 0
        while passes == 0 or time.perf_counter() - t0 < ctx.seconds:
            for name in rng.sample(QUERIES, len(QUERIES)):
                walls[name].append(one(name))
            passes += 1
        medians = [summary(walls[q])["median"] for q in QUERIES]
        metrics = {"op_set_s": sum(medians)}
        detail["passes"] = passes
        detail["op_geomean_s"] = geomean(medians)
        detail["per_query_s"] = {q: summary(walls[q]) for q in QUERIES}
    else:
        # Every query runs once untraced and once traced, the two in turn
        # first, so that the warm-up still under way after set-up falls on
        # both alike and their difference is the tracing overhead.
        tracer = ctx.tracer()
        untraced = traced = 0.0
        for i, name in enumerate(sorted(QUERIES)):
            for tr in (None, tracer) if i % 2 == 0 else (tracer, None):
                if tr is None:
                    untraced += one(name)
                else:
                    traced += one(name, tr)
        metrics = ctx.layer_metrics(tracer, traced - untraced)
        metrics["op_geomean_s"] = geomean([s["end"] - s["start"] for s in tracer.ops("query")])
        for span in tracer.ops("query"):
            metrics[f"queries.{span['query']}.jobs"] = span["counts"]["jobs"]
        detail["per_query_traced_s"] = {
            s["query"]: {"wall_s": s["end"] - s["start"], **s["counts"]} for s in tracer.ops("query")
        }
        detail["untraced_s"] = untraced
        detail["traced_s"] = traced
    detail["failures"] = failures
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "detail": detail}
