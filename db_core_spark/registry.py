"""Query registry: operator name -> (spark callable, DuckDB oracle SQL).

Every operator implemented from SURVEY.md §2B registers here via the
``@query`` decorator; ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
views over this registry. Operators whose semantics are not SQL-expressible
(streaming state, probabilistic sketches) register with ``oracle=None`` and get
the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    category: str


_REGISTRY: dict[str, RegisteredQuery] = {}

# Emission order for queries()/oracle_sql(), built by all_queries() from the
# committed driver CORRECTNESS_r*.json history: queries whose driver row
# errored or mismatched and that were never since seen green come first, then
# queries the driver never checked, then the rest. Within each band,
# oracle-eligible queries lead rows-only ones, then the category priority
# below decides (custom/high-value surfaces lead), then registration order.
# While every query has a usable driver row and none errored, only those
# last three rules apply.
CATEGORY_PRIORITY = [
    "mvcc",
    "object",
    "llm",
    "vector",
    "multimodal",
    "asof",
    "tpch",
    "sampling",
    "streaming",
    "udf",
    "timeseries",
    "subquery",
    "window",
    "aggregate",
    "join",
    "setop",
    "scalar",
    "relational",
]


def query(name: str, oracle: str | None = None, category: str = "relational"):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``oracle`` is ANSI SQL DuckDB runs over the same parquet fixture views.
    Column names/types of the Spark result and the oracle result must align —
    the driver sorts columns by name and hashes values.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle, category=category)
        return fn

    return deco


def _driver_history() -> tuple[frozenset[str], frozenset[str], frozenset[str]]:
    """Return ``(green, rows_only, errored)`` from one pass over the driver
    CORRECTNESS history.

    ``green``: names with a fully-passing driver row (rows + schema + hash) in
    some committed round.
    ``rows_only``: names whose only usable driver rows were the intentional
    rows-only path (``err == "no_oracle"``) and that were never hash-green.
    Such a row counts as "checked" only while the registration still has no
    oracle (resolved in :func:`all_queries`, which sees the live registry).
    ``errored``: names whose row errored or mismatched in some round and that
    were never seen green or rows-only. They sort first until the driver
    confirms the fix, as the reference replays in-flight work before it
    accepts new work (``src/system/instance.rs``).
    """
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    green: set[str] = set()
    rows_only: set[str] = set()
    bad: set[str] = set()
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                rows_only.add(name)
            elif (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green.add(name)
            else:
                bad.add(name)
    return (
        frozenset(green),
        frozenset(rows_only - green),
        frozenset(bad - green - rows_only),
    )


def all_queries() -> dict[str, RegisteredQuery]:
    # Import for side effect: each module registers its operators.
    from db_core_spark import queries as _q  # noqa: F401

    green, rows_only, errored = _driver_history()
    rank = {c: i for i, c in enumerate(CATEGORY_PRIORITY)}
    order = {name: i for i, name in enumerate(_REGISTRY)}

    def is_checked(name: str, rq: RegisteredQuery) -> bool:
        # A rows-only row stops counting once the query gains an oracle:
        # the driver never hash-verified it.
        return name in green or (name in rows_only and rq.oracle is None)

    return dict(
        sorted(
            _REGISTRY.items(),
            key=lambda kv: (
                kv[0] not in errored,
                is_checked(*kv),
                kv[1].oracle is None,
                rank.get(kv[1].category, len(rank)),
                order[kv[0]],
            ),
        )
    )


def spark_queries() -> dict[str, QueryFn]:
    return {name: rq.fn for name, rq in all_queries().items()}


def oracle_queries() -> dict[str, str]:
    return {name: rq.oracle for name, rq in all_queries().items() if rq.oracle is not None}
