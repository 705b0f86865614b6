"""Scripts import the checkout they live in, not a fixed path.

A ``sys.path.insert`` of a string literal makes a tool run from a copy of
the repository check some other tree's code; the insert must derive the
root from ``__file__`` the way ``bench.py`` does.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("tests/*.py"), *ROOT.glob("*.py")]
)


def _literal_path_inserts(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "insert"
            and ast.unparse(node.func.value) == "sys.path"
            and any(
                isinstance(a, ast.Constant) and isinstance(a.value, str)
                for a in node.args
            )
        ):
            lines.append(node.lineno)
    return lines


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_no_literal_sys_path_insert(path):
    assert _literal_path_inserts(path) == []
