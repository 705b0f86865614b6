"""Partition-invariance sweep: every registered query must produce the SAME
answer under a hostile partitioning regime as under the tuned default.

This is the local-mode proxy for "would this survive a 1000-executor
cluster": run A uses the session defaults (shuffle.partitions = 2x cores,
~128 MB input splits); run B forces 3 shuffle partitions and 256 KB input
splits (many tiny scan tasks, heavily skewed reduce side). Any query whose
result depends on partition count, partition ordering, or per-partition
state (a misused mapPartitions accumulator, a prefix-sum that assumes one
partition, a sample tied to split boundaries) flips between the two runs.

The two knobs are runtime SQL confs, so both runs share one JVM/session —
plan caches are not reused across conf changes because the confs are part
of the plan.

Usage: python tools/partition_invariance.py [sf_dir] [--only name1,name2]
Exit code 1 if any query produced different answers across regimes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_core_spark.registry import all_queries  # noqa: E402
from db_core_spark.session import get_spark  # noqa: E402

HOSTILE = {
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.files.maxPartitionBytes": str(256 * 1024),
    # Keep AQE on in both regimes: it is on in production; the hostile run
    # still differs because AQE only coalesces DOWN toward the conf target.
}


def canon(df) -> list:
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--only"):
            only = set(a.split("=", 1)[1].split(",")) if "=" in a else None
    spark = get_spark("partition-invariance")
    defaults = {k: spark.conf.get(k) for k in HOSTILE}
    bad = []
    qs = all_queries()
    items = [(n, rq) for n, rq in sorted(qs.items()) if only is None or n in only]
    for i, (name, rq) in enumerate(items, 1):
        try:
            for k, v in defaults.items():
                spark.conf.set(k, v)
            a = canon(rq.fn(spark, sf_dir))
            for k, v in HOSTILE.items():
                spark.conf.set(k, v)
            b = canon(rq.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"  {name}: ERROR {type(e).__name__}: {e}"[:200], file=sys.stderr)
            bad.append((name, "error"))
            continue
        finally:
            for k, v in defaults.items():
                spark.conf.set(k, v)
        if a != b:
            diffs = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
            print(
                f"  {name}: PARTITION-SENSITIVE ({diffs} differing rows; "
                f"{len(a)} vs {len(b)} total)",
                file=sys.stderr,
            )
            bad.append((name, "partition-sensitive"))
        if i % 25 == 0:
            print(f"  ...{i}/{len(items)} checked", file=sys.stderr)
    print(
        f"{len(items) - len(bad)} partition-invariant, "
        + (f"{len(bad)} FAILURES: {bad}" if bad else "0 failures")
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
