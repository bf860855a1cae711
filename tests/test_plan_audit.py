"""Plan audit: every registered query's physical plan is held to the
scale rules from SURVEY §4 — no accidental cartesian products, no
row-at-a-time Python in the hot path (Arrow-batched pandas evals are
allowed only where declared), and the parquet scans prune columns.

This runs ``explain``-level planning only (nothing executes), so it
sweeps all queries cheaply and catches plan regressions the
value-correctness oracle tests cannot see.
"""

from __future__ import annotations

import importlib.util
import sys

import pytest

_spec = importlib.util.spec_from_file_location("entry_mod", "/root/repo/__spark_entry__.py")
_entry = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("entry_mod", _entry)
_spec.loader.exec_module(_entry)

QUERIES = _entry.queries()

# Brute-force similarity scoring joins every probe against the full
# index on purpose; the probe side is tiny and broadcast, which Spark
# plans as BroadcastNestedLoopJoin. Everything else must be key-based —
# including embedding_neardup, whose banded-LSH rewrite made it
# key-joined and earned its removal from this list.
NESTED_LOOP_OK = {
    "similarity_topk",  # brute recall-oracle leg + centroid broadcast
    "overlap_report",  # source-pair matrix: |sources|^2 tiny side
    "membership_matrix",
}

# Arrow-batched Python stages, declared: multimodal decode plumbing is
# a pandas-UDF surface by design (SURVEY §2.11).
PYTHON_EVAL_OK = {
    "multimodal_features",
}


def _plan(spark, name, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_is_scale_safe(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    if name not in NESTED_LOOP_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join\n{plan}"
    # row-at-a-time Python UDFs are never acceptable; Arrow-batched
    # (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) only where
    # declared above
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF\n{plan}"
    if name not in PYTHON_EVAL_OK:
        for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name}: undeclared Python stage {marker}\n{plan}"


def test_scans_prune_columns(spark, sf_dir):
    # narrow projections must not read the full table schemas
    df = QUERIES["distinct_lists"](spark, sf_dir)
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "p_retailprice" not in scan, scan
    assert "o_totalprice" not in scan, scan
