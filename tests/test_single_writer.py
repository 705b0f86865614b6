"""One writer of versioned data files, pinned in source.

Every op, checkpoint and DataSource part file is written by
``write_bucket_file`` (through ``write_bucketed`` for op parts), so the
bucket hash, the file layout and the rename-into-place rule live once. No
second writer may come back: no other ``pq.write_table`` call, no JVM
``partitionBy("bucket")`` staging write, no JVM twin of the bucket hash and
no DataFrameWriter chain (``<frame>.write.<...>``) — the CDC ``_preimg``
rows are staged by the same writer as an op's.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [
        *(ROOT / "db_core_spark" / "plans").glob("*.py"),
        ROOT / "db_core_spark" / "sources" / "versioned_datasource.py",
    ]
)


def _write_table_calls(tree: ast.AST) -> list[str]:
    """Name of the enclosing function of every ``*.write_table(...)`` call."""
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "write_table"
        ):
            out.append(func)
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_one_data_file_writer(path):
    src = path.read_text()
    tree = ast.parse(src, filename=str(path))
    assert set(_write_table_calls(tree)) <= {"write_bucket_file"}
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    names |= {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    assert "bucket_expr" not in names
    calls = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "partitionBy"
        and any(isinstance(a, ast.Constant) and a.value == "bucket" for a in n.args)
    ]
    assert calls == []
    # no DataFrameWriter chain, <frame>.write.<...>
    writer_chains = [
        n.lineno for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and isinstance(n.value, ast.Attribute)
        and n.value.attr == "write"
    ]
    assert writer_chains == []


def test_write_bucket_file_is_in_the_scanned_sources():
    versioned = ROOT / "db_core_spark" / "plans" / "versioned.py"
    assert versioned in SOURCES
    tree = ast.parse(versioned.read_text())
    assert _write_table_calls(tree) == ["write_bucket_file"]
