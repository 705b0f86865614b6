"""Generate CATALOG.md: the full operator inventory, one row per registered
query — name, family, correctness mode (DuckDB-oracle vs rows-only+pytest),
and the docstring's first sentence. Auto-derived from the registry, so the
catalog can never drift from the code.

Usage: python tools/catalog.py > CATALOG.md
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_core_spark.registry import all_queries  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = re.match(r"(.+?\.)(\s|$)", text)
    s = m.group(1) if m else text
    return s[:220]


def main() -> None:
    qs = all_queries()
    by_cat = Counter(rq.category for rq in qs.values())
    n_oracle = sum(1 for rq in qs.values() if rq.oracle is not None)
    print("# Operator catalog (auto-generated — tools/catalog.py)")
    print()
    print(
        f"{len(qs)} registered operators: {n_oracle} DuckDB-oracle-checked, "
        f"{len(qs) - n_oracle} rows-only-by-design (probabilistic / iterative "
        "/ engine-specific; each carries pytest equivalence or invariant "
        "tests instead)."
    )
    print()
    print(
        "Families: "
        + ", ".join(f"{c} ({n})" for c, n in sorted(by_cat.items()))
        + "."
    )
    print()
    print("| operator | family | check | what it does |")
    print("|---|---|---|---|")
    for name in sorted(qs):
        rq = qs[name]
        mode = "oracle" if rq.oracle is not None else "rows+pytest"
        desc = first_sentence(rq.fn.__doc__).replace("|", "\\|")
        print(f"| `{name}` | {rq.category} | {mode} | {desc} |")


if __name__ == "__main__":
    main()
