"""Measure how query time scales with data volume: run a representative
operator subset at sf0.001 / sf0.01 / sf0.1 (100x data range) and report
per-step time ratios. A shuffle- or driver-bound operator shows super-linear
ratios here long before it falls over on a real cluster; the expected
signature for scan-bound plans on fixed local[32] parallelism is sub-linear
at small SF (fixed overheads dominate) approaching ~10x per 10x data at the
top end.

Usage: python tools/scale_sweep.py > SCALING.md
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_core_spark.registry import all_queries  # noqa: E402
from db_core_spark.session import get_spark  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]

# scan/agg, join, window, dedup, LSH pipeline, vector kernel, segment
# window, synth-join TPC-H — one per execution-shape family — plus the
# round-5 two-pass prefix-rank rewrites (formerly global single-partition
# windows; this sweep is the regression evidence that the rewrite scales)
SUBSET = [
    "q1_pricing_summary",
    "join_inner_agg",
    "window_running_sum",
    "dedup_exact_keep",
    "minhash_lsh_pairs",
    "knn_bruteforce_topk",
    "dedup_segments_global",
    "q9_product_profit",
    "agg_value_deciles",
    "pack_training_sequences",
    "stats_mann_whitney_u",
    "abc_part_classification",
    "q21_waiting_suppliers",
    "geo_cell_join_pairs",
]


def main() -> None:
    spark = get_spark("scale-sweep")
    qs = all_queries()
    spark.range(1000).count()
    # one untimed warm pass at the smallest SF compiles every plan's codegen
    for name in SUBSET:
        qs[name].fn(spark, "/root/testdata/sf0.001").count()

    results: dict[str, list[float]] = {}
    for name in SUBSET:
        times = []
        for sf in SFS:
            best = None
            for _ in range(2):
                t0 = time.time()
                qs[name].fn(spark, f"/root/testdata/sf{sf}").count()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            times.append(best)
        results[name] = times
        print(f"  {name}: {['%.2f' % t for t in times]}", file=sys.stderr)

    print("# SCALING: measured time vs data volume (best-of-2, warm)")
    print()
    print("100x data range (sf0.001 -> sf0.1) on fixed local[32] parallelism.")
    print("`r1` = t(sf0.01)/t(sf0.001), `r2` = t(sf0.1)/t(sf0.01); each step")
    print("is 10x the data, so ratios <= ~10 mean at-or-below-linear scaling")
    print("(fixed per-query overheads make small-SF ratios ~1).")
    print()
    print("| query | sf0.001 s | sf0.01 s | sf0.1 s | r1 | r2 |")
    print("|---|---|---|---|---|---|")
    for name, (a, b, c) in results.items():
        print(
            f"| {name} | {a:.2f} | {b:.2f} | {c:.2f} "
            f"| {b / a:.1f}x | {c / b:.1f}x |"
        )
    worst = max(results.items(), key=lambda kv: kv[1][2] / kv[1][1])
    print()
    print(
        f"Worst top-step ratio: `{worst[0]}` at "
        f"{worst[1][2] / worst[1][1]:.1f}x per 10x data."
    )


if __name__ == "__main__":
    main()
