"""Smoke test of the benchmark at a tiny scale (sf0.001, one store cycle).

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that each workload prints every metric BENCHMARK.json names, with its
unit, and that the counts of the traced run repeat exactly across two
invocations. Takes a few minutes: every invocation starts its own Spark.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analytics  # noqa: E402
import oltp  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# Counts that must repeat exactly from one traced invocation to the next.
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "storage.files_written")


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.chdir(ROOT)
    monkeypatch.setattr(run, "ROOT", ROOT)
    monkeypatch.setattr(run, "WORK", os.path.join(ROOT, ".bench_build", "perfbench-test"))
    monkeypatch.setitem(run.WORKLOADS, "analytics_sf0.01", "sf0.001")
    for name, value in (("INITIAL_ROWS", 3000), ("BULK_ROWS", 1000), ("TRACE_CYCLES", 1)):
        monkeypatch.setattr(oltp, name, value)
    monkeypatch.setattr(analytics, "QUERIES", analytics.QUERIES[:4] + analytics.QUERIES[-3:])


def invoke(capsys, monkeypatch, workload: str, trace: int) -> dict:
    argv = ["run.py", "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    monkeypatch.setattr(sys, "argv", argv)
    assert run.main() == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    return result["metrics"]


@pytest.mark.parametrize("workload", ["analytics_sf0.01", "versioned_oltp"])
def test_workload_prints_every_metric_and_repeats_counts(tiny, capsys, monkeypatch, workload):
    e2e = invoke(capsys, monkeypatch, workload, 0)
    assert all(v["value"] > 0 for v in e2e.values())
    first = invoke(capsys, monkeypatch, workload, 1)
    second = invoke(capsys, monkeypatch, workload, 1)
    exact = [n for n in first if n in EXACT or n.endswith("_jobs") or n.endswith(".jobs")]
    assert {n: first[n]["value"] for n in exact} == {n: second[n]["value"] for n in exact}
