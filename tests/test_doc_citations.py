"""Lint of the library's test citations: every ``test_*`` name a
docstring or comment under ``siskin_spark/`` cites must be a test
function defined under ``tests/`` or a ``tests/test_*.py`` module, so
renaming or deleting a test without sweeping the text that claims it
fails here.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_CITED = re.compile(r"\btest_\w+")


def _defined_tests() -> set[str]:
    names = set()
    for path in (ROOT / "tests").rglob("*.py"):
        names.add(path.stem)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.add(node.name)
    return names


def test_docstring_test_citations_exist():
    defined = _defined_tests()
    missing = sorted(
        (str(path.relative_to(ROOT)), name)
        for path in (ROOT / "siskin_spark").rglob("*.py")
        for name in set(_CITED.findall(path.read_text()))
        if name not in defined
    )
    assert not missing, f"cited tests that do not exist: {missing}"
