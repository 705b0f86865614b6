"""Emission order of the query registry (driver-evidence window).

The driver's correctness run grades the FIRST 50 entries of ``queries()``,
so emission order decides which queries it checks. Pins the rules that
order follows: errored-never-green names first; a historical
``err == "no_oracle"`` driver row counts as "checked" only while the
registration still lacks an oracle, so a query converted to a full oracle
sorts with the never-checked names; then category priority.
"""

from __future__ import annotations

from pathlib import Path

import db_core_spark.registry as registry
from db_core_spark.registry import all_queries


def _order_with_history(monkeypatch, green, rows_only, errored):
    monkeypatch.setattr(
        registry,
        "_driver_history",
        lambda: (frozenset(green), frozenset(rows_only), frozenset(errored)),
    )
    return list(all_queries())


def test_stale_no_oracle_row_refronts_converted_query(monkeypatch):
    qs = all_queries()
    converted = next(n for n, rq in qs.items() if rq.oracle is not None)
    still_rows_only = next(n for n, rq in qs.items() if rq.oracle is None)
    green = set(qs) - {converted, still_rows_only}

    order = _order_with_history(
        monkeypatch, green, {converted, still_rows_only}, set()
    )
    # Converted query (rows-only history + oracle now registered) fronts.
    assert order[0] == converted
    # A query still registered rows-only keeps its checked status: it must
    # NOT outrank the fully-checked band's category ordering (i.e. it stays
    # out of the front-of-window evidence bands).
    assert order.index(still_rows_only) > 0


def test_errored_still_outranks_stale_conversion(monkeypatch):
    qs = all_queries()
    oracled = [n for n, rq in qs.items() if rq.oracle is not None]
    converted, errored_name = oracled[0], oracled[1]
    green = set(qs) - {converted, errored_name}

    order = _order_with_history(
        monkeypatch, green, {converted}, {errored_name}
    )
    assert order[0] == errored_name
    assert order[1] == converted


def test_live_history_order_is_category_priority():
    """On the committed CORRECTNESS history every query has a usable driver
    row and none errored, so the order is (oracle-eligible first, category
    priority, registration order)."""
    qs = all_queries()
    rank = {c: i for i, c in enumerate(registry.CATEGORY_PRIORITY)}
    registered = list(registry._REGISTRY)
    expected = sorted(
        registered,
        key=lambda n: (
            qs[n].oracle is None,
            rank.get(qs[n].category, len(rank)),
            registered.index(n),
        ),
    )
    assert list(qs) == expected
    assert list(qs)[:5] == [
        "mvcc_latest_per_key",
        "mvcc_snapshot_asof",
        "versioned_merge_upsert",
        "mvcc_version_history",
        "versioned_point_lookup",
    ]


def test_one_history_pass_per_call(monkeypatch):
    """One ``all_queries()`` call reads each CORRECTNESS_r*.json once."""
    reads: list[str] = []
    real_read_text = Path.read_text

    def counting_read_text(self, *args, **kwargs):
        if self.name.startswith("CORRECTNESS_r"):
            reads.append(self.name)
        return real_read_text(self, *args, **kwargs)

    monkeypatch.setattr(Path, "read_text", counting_read_text)
    all_queries()
    repo = Path(registry.__file__).resolve().parent.parent
    files = sorted(p.name for p in repo.glob("CORRECTNESS_r*.json"))
    assert files
    assert sorted(reads) == files
