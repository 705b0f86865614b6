"""Summary statistics and process measurements shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it, or None when
    the sample is too small to support any."""
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            k = min(n - 1, math.ceil(n * p / 100) - 1)
            return {"p": p, "value": sorted(xs)[k], "n": n}
    return None


def summary(xs: list[float]) -> dict:
    """Median, max and sample count of one operation type's latencies."""
    return {"median": median(xs), "max": max(xs), "n": len(xs), "tail": tail(xs)}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_files(root: str) -> dict[str, int]:
    """Path -> size of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # a temp file renamed away between listing and stat
    return out
