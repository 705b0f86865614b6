"""Standing sf1-decade sweep (VERDICT r6 item 5): time the full bench
headline + extra sets at sf0.1 AND the synthesized sf1 (tools/make_sf1.py,
~6M lineitem rows), printing the per-10x step ratio per query as a markdown
section for SCALING.md. One decade of measured headroom past the driver's
bench SF stays a per-round gate instead of a one-off.

A per-10x ratio <= ~10 is at-or-below-linear; the headline bound we hold
ourselves to is <= 2.5x (fixed local[32] parallelism absorbs much of the
volume until shuffle sizes bite). Ratios are only comparable on an idle
container — run while nothing else is hammering the CPUs, and prefer
diffing per-query ratios over totals across rounds.

Usage: python tools/sf1_sweep.py [sf1_dir]   (default /tmp/testdata_sf1;
builds it via make_sf1.py if missing — deterministic, ~1-2 min)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA, HEADLINE  # noqa: E402
from db_core_spark.registry import all_queries  # noqa: E402
from db_core_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"


def ensure_sf1(sf1_dir: str) -> None:
    if os.path.isfile(os.path.join(sf1_dir, "lineitem.parquet", "_SUCCESS")) or (
        os.path.isdir(os.path.join(sf1_dir, "lineitem.parquet"))
    ):
        return
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run(
        [sys.executable, os.path.join(here, "make_sf1.py"), sf1_dir],
        check=True,
    )


def main() -> None:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata_sf1"
    ensure_sf1(sf1_dir)
    spark = get_spark("sf1-sweep")
    qs = all_queries()
    names = HEADLINE + EXTRA

    # untimed codegen warm pass at 1/100 the measured scale
    for name in names:
        qs[name].fn(spark, "/root/testdata/sf0.001").count()

    results: dict[str, tuple[float, float]] = {}
    for name in names:
        per_sf = []
        for sf_dir in (SRC, sf1_dir):
            best = None
            for _ in range(2):
                t0 = time.time()
                qs[name].fn(spark, sf_dir).count()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            per_sf.append(best)
        results[name] = (per_sf[0], per_sf[1])
        print(f"  {name}: sf0.1={per_sf[0]:.2f}s sf1={per_sf[1]:.2f}s", file=sys.stderr)

    print("| query | sf0.1 s | sf1 s | per-10x |")
    print("|---|---|---|---|")
    tot01 = tot1 = 0.0
    for name, (a, b) in results.items():
        tag = " (extra)" if name in EXTRA else ""
        print(f"| {name}{tag} | {a:.2f} | {b:.2f} | {b / a:.1f}x |")
        if name in HEADLINE:
            tot01, tot1 = tot01 + a, tot1 + b
    print()
    worst = max(
        ((n, r[1] / r[0]) for n, r in results.items() if n in HEADLINE),
        key=lambda kv: kv[1],
    )
    print(
        f"Headline total {tot01:.1f} -> {tot1:.1f} s ({tot1 / tot01:.1f}x per 10x "
        f"data); worst headline step `{worst[0]}` at {worst[1]:.1f}x."
    )


if __name__ == "__main__":
    main()
