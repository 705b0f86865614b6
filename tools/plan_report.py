"""Generate PLANS.md: one physical-plan quality row per registered query.

For every entry in the registry, build (don't execute) the DataFrame at
sf0.001 and summarize the formatted plan: exchange count, whole-stage
codegen span count, broadcast joins, sort-merge joins, scans with pushed
filters, and any smell nodes (CartesianProduct, BatchEvalPython). The
audits in tests/test_plan_audits.py ASSERT the load-bearing properties;
this report makes the whole surface inspectable at a glance.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_core_spark.plans.planaudit import (  # noqa: E402
    SPINE_WHITELIST,
    global_window_smells,
)
from db_core_spark.registry import all_queries  # noqa: E402
from db_core_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def summarize(plan: str, name: str = "") -> dict:
    window_smells = global_window_smells(plan)
    if name in SPINE_WHITELIST and window_smells:
        # bounded-by-construction spine the key heuristic can't see; the
        # justification lives in SPINE_WHITELIST — annotate, don't flag
        window_smells = ["spine-whitelisted"]
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "codegen": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "pushed": len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
        ),
        "smells": ", ".join(
            [
                s
                for s in ("CartesianProduct", "BatchEvalPython")
                if s in plan and "BatchEvalPythonUDTF" not in plan
            ]
            + window_smells
        )
        or "",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-report", cpus=8)
    rows = []
    for name, rq in all_queries().items():
        try:
            s = summarize(plan_of(rq.fn(spark, sf_dir)), name)
            rows.append((name, rq.category, s, None))
        except Exception as exc:  # noqa: BLE001
            rows.append((name, rq.category, None, str(exc).splitlines()[0][:80]))
    print("# Physical-plan quality report")
    print()
    print(f"One row per registered query ({len(rows)}), plans built at "
          f"{sf_dir} (never executed). Columns: shuffle Exchange count, "
          "distinct WholeStageCodegen spans, broadcast-hash joins, "
          "sort-merge joins, scans with pushed filters, smell nodes.")
    print()
    print("| query | category | exch | codegen | bhj | smj | pushed | smells |")
    print("|---|---|---|---|---|---|---|---|")
    for name, cat, s, err in sorted(rows):
        if s is None:
            print(f"| {name} | {cat} | — | — | — | — | — | ERROR: {err} |")
        else:
            print(
                f"| {name} | {cat} | {s['exchanges']} | {s['codegen']} | "
                f"{s['bhj']} | {s['smj']} | {s['pushed']} | {s['smells']} |"
            )
    bad = [
        n
        for n, _c, s, _e in rows
        if s and s["smells"] and s["smells"] != "spine-whitelisted"
    ]
    print()
    print(f"Smell summary: {len(bad)} queries with smell nodes" + (f" — {bad}" if bad else "."))
    wl = [n for n, _c, s, _e in rows if s and s["smells"] == "spine-whitelisted"]
    if wl:
        print()
        print(
            f"Spine-whitelisted ({len(wl)}; justification in "
            f"db_core_spark/plans/planaudit.py SPINE_WHITELIST): {wl}"
        )


if __name__ == "__main__":
    main()
