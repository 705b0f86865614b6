"""Run every registered query TWICE (fresh plans, same session) and compare
the two results value-for-value. Catches run-nondeterminism — the class of
bug where Spark's varying partial-aggregation order flips a rounding
boundary (found once in round 4: cohort_age_revenue_curve) or an op depends
on partitioning/rand state. Engine queries that build temp state are
naturally skipped from strict comparison when their outputs embed fresh
paths (none currently do).

Usage: python tools/determinism_sweep.py [sf_dir]   # default sf0.001
Exit code 1 if any query produced two different answers.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_core_spark.registry import all_queries  # noqa: E402
from db_core_spark.session import get_spark  # noqa: E402


def canon(df) -> list:
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("determinism-sweep")
    bad = []
    qs = all_queries()
    for i, (name, rq) in enumerate(sorted(qs.items()), 1):
        try:
            a = canon(rq.fn(spark, sf_dir))
            b = canon(rq.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"  {name}: ERROR {type(e).__name__}: {e}"[:160], file=sys.stderr)
            bad.append((name, "error"))
            continue
        if a != b:
            diffs = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
            print(f"  {name}: NONDETERMINISTIC ({diffs} differing rows)",
                  file=sys.stderr)
            bad.append((name, "nondeterministic"))
        if i % 50 == 0:
            print(f"  ...{i}/{len(qs)} checked", file=sys.stderr)
    print(
        f"{len(qs) - len(bad)} deterministic, "
        + (f"{len(bad)} FAILURES: {bad}" if bad else "0 failures")
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
