"""A/B driver: run one benchmark against two checkouts in alternating pairs.

    python3 perfbench/ab.py A_DIR B_DIR --workload NAME [--workload NAME ...]
        [--pairs 10] [--seed 1000] [--seconds N] [--trace 0] [--out FILE]

Both sides run this directory's ``run.py`` with the same settings, each
from its own checkout (so each measures its own program). Pair ``i`` gives
A seed ``seed + 2i`` and B seed ``seed + 2i + 1`` and alternates which side
runs first; with every seed distinct, the pooled runs of a checkout against
itself are also a seed sweep of the benchmark's own spread. For
every metric on every workload it prints each side's median and quartiles
and the fraction of pairs each side won (ties count for neither), plus the
quartile spread of all runs pooled, as a share of their median. Raw results
go to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from measure import quartiles

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
SPEC = os.path.join(os.path.dirname(os.path.dirname(RUN)), "BENCHMARK.json")


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{checkout}: no result (exit {proc.returncode}): {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["exit"] = proc.returncode
    result["wall_s"] = wall
    if len(lines) > 1:
        result["detail"] = json.loads(lines[-2]).get("detail")
    return result


def compare(rows: list[dict], spec: dict, trace: int) -> list[str]:
    """One report line per (workload, metric)."""
    better = {m["name"]: m.get("better", "lower") for m in spec["end_to_end" if not trace else "per_layer"]}
    out = []
    for workload in sorted({r["workload"] for r in rows}):
        pairs: dict[int, dict[str, dict]] = {}
        for r in rows:
            if r["workload"] == workload:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]["metrics"]
        for name, direction in better.items():
            vals = {"A": [], "B": []}
            wins = {"A": 0, "B": 0}
            for sides in pairs.values():
                if set(sides) != {"A", "B"}:
                    continue
                a, b = sides["A"][name]["value"], sides["B"][name]["value"]
                vals["A"].append(a)
                vals["B"].append(b)
                if a != b:
                    a_better = (a < b) == (direction == "lower")
                    wins["A" if a_better else "B"] += 1
            n = len(vals["A"])
            if n == 0:
                continue
            qa, qb = quartiles(vals["A"]), quartiles(vals["B"])
            q1, med, q3 = quartiles(vals["A"] + vals["B"])
            spread = (q3 - q1) / med if med else float("nan")
            out.append(
                f"{workload:18s} {name:28s} "
                f"A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                f"B {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
                f"wins A {wins['A']}/{n} B {wins['B']}/{n}  pooled IQR/median {spread:.3f}"
            )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(SPEC) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    rows = []
    out = open(args.out, "a") if args.out else None
    try:
        for workload in args.workload:
            for i in range(args.pairs):
                for side in ("AB" if i % 2 == 0 else "BA"):
                    seed = args.seed + 2 * i + (side == "B")
                    res = run_once(sides[side], workload, seed, seconds, args.trace)
                    row = {"workload": workload, "pair": i, "seed": seed, "side": side, "result": res}
                    rows.append(row)
                    if out:
                        out.write(json.dumps(row) + "\n")
                        out.flush()
                    print(f"{workload} seed {seed} {side}: exit {res['exit']} "
                          f"failed {res['failed']}/{res['attempted']}", file=sys.stderr)
    finally:
        if out:
            out.close()
    print("\n".join(compare(rows, spec, args.trace)))
    return 0 if all(r["result"]["correct"] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
