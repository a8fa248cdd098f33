"""Registry-wide plan lint: structural rules every suite query must obey.

Complements test_plans.py's targeted assertions with an automatic sweep
over EVERY registered query, so a future query (or a refactor of a
shared helper) cannot silently reintroduce:

- row/batch Python evaluation in a hot path (the engine rule: the ONLY
  Python is the deliberate Arrow multimodal feature extractor), or
- an unbounded CartesianProduct (broadcast nested-loop joins against
  1-row/vocabulary-sized sides are fine and print differently).

Plans are built and analyzed, never executed — the lint costs seconds.
"""

from __future__ import annotations

import pytest

from edu_data_pipeline_spark.suite import load_all

REGISTRY = load_all()
SF = "/root/testdata/sf0.001"

# The one deliberate Arrow path (mapInPandas codec stub).
PYTHON_ALLOWED = {"multimodal_features"}


@pytest.fixture(scope="module")
def physical_plans():
    """Physical plan per query name, shared by the three rules below:
    they read the same plan, so each query is built and planned once."""
    built: dict = {}
    yield built
    built.clear()


def _executed_plan(spark, plans, name):
    if name not in plans:
        plans[name] = REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan()
    return plans[name]


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_python_eval_in_plan(spark, physical_plans, name):
    if name in PYTHON_ALLOWED:
        pytest.skip("deliberate Arrow path")
    plan = _executed_plan(spark, physical_plans, name).toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        f"{name} contains Python evaluation in its plan"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_raw_cartesian_product(spark, physical_plans, name):
    plan = _executed_plan(spark, physical_plans, name).toString()
    # BroadcastNestedLoopJoin (broadcast small side) prints differently;
    # a raw CartesianProduct means both sides are full-size — forbidden.
    assert "CartesianProduct" not in plan, (
        f"{name} plans a non-broadcast cartesian product"
    )


# ---------------------------------------------------------------------------
# Non-equi-join boundedness (VERDICT r2 #4): a BroadcastNestedLoopJoin is
# only allowed when its BROADCAST side is provably bounded — a scalar
# aggregate (1 row), a limit, or a literal/local table (≤21-row masters).
# A full-size non-equi self-join (the O(n²) shape) must advertise itself
# with a "bruteforce" marker in the query name so nobody reaches for it at
# corpus scale; every exhibit has a banded/LSH sibling as the scale path.
# ---------------------------------------------------------------------------


def _jchildren(p):
    """Physical children, unwrapping the plan-hiding wrapper nodes:
    AdaptiveSparkPlanExec (AQE root), *QueryStageExec and
    ReusedExchangeExec all present as leaves but hold a real subtree."""
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [p.initialPlan()]
    if cls.endswith("QueryStageExec"):
        return [p.plan()]
    if cls == "ReusedExchangeExec":
        return [p.child()]
    ch = p.children()
    return [ch.apply(i) for i in range(ch.size())]


def _is_bounded(p) -> bool:
    """Output-row boundedness certificate for a physical subtree."""
    cls = p.getClass().getSimpleName()
    if cls in ("LocalTableScanExec", "GlobalLimitExec", "LocalLimitExec",
               "TakeOrderedAndProjectExec", "RDDScanExec"):
        return True
    # scalar (no-grouping-key) aggregate -> exactly 1 row
    if cls in ("HashAggregateExec", "ObjectHashAggregateExec",
               "SortAggregateExec") and p.groupingExpressions().isEmpty():
        return True
    kids = _jchildren(p)
    if not kids:
        return False
    if len(kids) == 1:
        # unary pass-throughs (Project/Filter/Exchange/Sort/Codegen/
        # keyed aggregates/...) never grow a bounded child beyond a
        # bounded multiple; Generate/explode is the exception.
        if cls == "GenerateExec":
            return False
        return _is_bounded(kids[0])
    # binary (joins): conservatively bounded only if every input is
    return all(_is_bounded(k) for k in kids)


def _walk(p, out):
    if p.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
        out.append(p)
    # follow query stages / reused subtrees in the adaptive plan
    for k in _jchildren(p):
        _walk(k, out)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_non_equi_join_bounded_or_marked(spark, physical_plans, name):
    if "bruteforce" in name:
        pytest.skip("explicitly marked brute-force exhibit")
    jplan = _executed_plan(spark, physical_plans, name)
    nodes: list = []
    _walk(jplan, nodes)
    for node in nodes:
        build = str(node.buildSide())
        kids = _jchildren(node)
        side = kids[0] if build == "BuildLeft" else kids[1]
        assert _is_bounded(side), (
            f"{name}: BroadcastNestedLoopJoin broadcasts an unbounded side "
            f"(build={build}) — O(n^2) shape; either bound the broadcast "
            f"side or register the query with a 'bruteforce' name marker:\n"
            f"{side.treeString()}"
        )
