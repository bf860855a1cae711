"""Lint of the README "Operator selection at scale" ledger: every name
it cites must still exist, so deleting a path without sweeping its
ledger row fails here.

- A ``module.py:name`` reference must name a top-level definition of
  that module (under ``siskin_spark/``, or the repo root for
  ``tests/``).
- Every other backticked snake_case name must resolve to something
  real: a definition in the package or a query in ``__spark_entry__``,
  a parameter or string key of a module cited on the same row, a test
  function, a key of an artifact cited on the same row, a benchmark
  workload, or a Spark SQL function.
- Every cited ``SCALE_*``/``PERF_*`` artifact must be committed.

It also lints the README's shell examples: every ``--flag`` on a
``siskin-spark <verb>`` line in a code block must be one the verb's
``--help`` lists, so removing a CLI flag without sweeping the README
fails here too.
"""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "siskin_spark"

_MODREF = re.compile(r"^((?:\w+/)*\w+\.py)(?::([\w,/]+))?$")
_SNAKE = re.compile(r"^\w*[a-z0-9]_\w+\*?$")
_ARTIFACT = re.compile(r"\b((?:SCALE|PERF)_\w+\.json)\b")


def _ledger_rows() -> list[str]:
    text = (ROOT / "README.md").read_text()
    body = text.split("## Operator selection at scale", 1)[1].split("\n## ", 1)[0]
    rows = [ln for ln in body.splitlines() if ln.startswith("| ")]
    assert rows and rows[0].startswith("| Choice"), "ledger table not found"
    return rows[1:]


def _top_level(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
    return names


def _local_names(tree: ast.Module) -> set[str]:
    """Parameter names and identifier-shaped string constants."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.arg):
            names.add(node.arg)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                names.add(node.value)
    return names


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _json_keys(obj, prefix: str = "") -> set[str]:
    keys = set()
    if isinstance(obj, dict):
        for k, v in obj.items():
            keys.add(prefix + k)
            keys |= _json_keys(v, prefix + k + ".")
    return keys


def test_ledger_names_exist():
    package_defs = set()
    for path in PKG.rglob("*.py"):
        package_defs |= _top_level(_parse(path))
    package_defs |= _top_level(_parse(ROOT / "__spark_entry__.py"))
    test_names = set()
    for path in (ROOT / "tests").glob("test_*.py"):
        test_names |= _top_level(_parse(path))
    workloads = {
        w["name"]
        for w in json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]
    }

    missing = []
    for row in _ledger_rows():
        spans = re.findall(r"`([^`]+)`", row)
        local, keys = set(), set()
        for span in spans:
            m = _MODREF.match(span)
            if not m:
                continue
            module = (ROOT if span.startswith("tests/") else PKG) / m.group(1)
            if not module.exists():
                missing.append(f"{span}: no module {module.relative_to(ROOT)}")
                continue
            tree = _parse(module)
            local |= _local_names(tree)
            defs = _top_level(tree)
            for name in re.split(r"[,/]", m.group(2) or ""):
                if name and name not in defs:
                    missing.append(f"{span}: {name} not defined in {m.group(1)}")
        for artifact in set(_ARTIFACT.findall(row)):
            if (ROOT / artifact).exists():
                keys |= _json_keys(json.loads((ROOT / artifact).read_text()))
        for span in spans:
            if (
                _MODREF.match(span)
                or _ARTIFACT.search(span)
                or not _SNAKE.match(span.replace(".", "_"))
            ):
                continue
            if span.endswith("*"):
                found = any(k.startswith(span[:-1]) for k in keys)
            else:
                found = (
                    span in package_defs
                    or span in local
                    or span in test_names
                    or span in keys
                    or span in workloads
                    or hasattr(F, span)
                )
            if not found:
                missing.append(f"`{span}` in row {row.split('|')[1].strip()!r}")
    assert not missing, "ledger cites names that do not exist:\n" + "\n".join(missing)


def test_ledger_artifacts_exist():
    cited = {a for row in _ledger_rows() for a in _ARTIFACT.findall(row)}
    assert cited, "the ledger cites no artifact"
    assert sorted(a for a in cited if not (ROOT / a).exists()) == []


def _readme_cli_lines() -> list[str]:
    """``siskin-spark`` command lines inside README code blocks, with
    backslash continuations joined."""
    blocks = (ROOT / "README.md").read_text().split("```")[1::2]
    lines = []
    for block in blocks:
        for ln in block.replace("\\\n", " ").splitlines():
            if ln.strip().startswith("siskin-spark "):
                lines.append(ln.strip())
    return lines


def test_readme_cli_flags_exist(capsys):
    """Every ``--flag`` on a README ``siskin-spark <verb>`` line is one
    the verb's ``--help`` lists. ``main([verb, "--help"])`` exits in
    argparse, before any Spark session starts, so this needs no
    Spark."""
    from siskin_spark.cli import main

    lines = _readme_cli_lines()
    assert lines, "README has no siskin-spark command lines"
    missing = []
    for ln in lines:
        verb = ln.split()[1]
        with pytest.raises(SystemExit) as exc:
            main([verb, "--help"])
        assert exc.value.code == 0, ln
        usage = capsys.readouterr().out
        for flag in re.findall(r"(?<!\S)--[\w-]+", ln):
            if not re.search(rf"(?<![\w-]){re.escape(flag)}(?![\w-])", usage):
                missing.append(f"{verb} {flag}")
    assert not missing, "README cites CLI flags that do not exist:\n" + "\n".join(missing)
