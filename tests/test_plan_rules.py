"""The plan-rule checker (``tools/plan_rules.py``) on hand-written plan
strings, and its keys against the registry."""

from __future__ import annotations

import pytest

from project_map_reduce_spark.registry import entries
from tools.plan_rules import (
    BNLJ_ALLOWED,
    CONTRACTS,
    SORT_AGG_ALLOWED,
    global_problems,
    plan_problems,
)


@pytest.mark.parametrize(
    "node", ["CartesianProduct", "BroadcastNestedLoopJoin", "SortAggregate"]
)
def test_unlisted_node_is_rejected(node):
    plan = f"AdaptiveSparkPlan (3)\n+- {node} (2)\n   +- Scan parquet  (1)"
    [problem] = plan_problems("q_unlisted", plan)
    assert node in problem


def test_listed_nodes_are_accepted_but_never_cartesian():
    for name in BNLJ_ALLOWED:
        assert not global_problems(name, "+- BroadcastNestedLoopJoin Inner (7)")
    for name in SORT_AGG_ALLOWED:
        assert not global_problems(name, "+- SortAggregate (5)")
    for name in BNLJ_ALLOWED.keys() | SORT_AGG_ALLOWED.keys():
        assert global_problems(name, "+- CartesianProduct (2)")


def test_contract_failure_is_reported():
    bad = "(1) Scan parquet\nReadSchema: struct<l_orderkey:bigint>"
    [problem] = plan_problems("q_scan_project", bad)
    assert "scan_prunes_columns" in problem
    good = (
        "(1) Scan parquet\nReadSchema: struct<l_orderkey:bigint,"
        "l_partkey:bigint,l_quantity:double,l_extendedprice:double>"
    )
    assert not plan_problems("q_scan_project", good)


def test_rule_keys_name_registered_queries():
    """A misspelt key would switch its rule off without a sound."""
    registered = set(entries())
    for table in (BNLJ_ALLOWED, SORT_AGG_ALLOWED, CONTRACTS):
        assert set(table) <= registered, sorted(set(table) - registered)
    assert all(BNLJ_ALLOWED.values()) and all(SORT_AGG_ALLOWED.values())
