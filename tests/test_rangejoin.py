"""operators/rangejoin.py — bucketed interval join contracts.

The registered query (q_join_range) hash-checks the full pipeline
against DuckDB; these tests pin the operator's edge semantics on
constructed rows where the interesting cases (window boundaries,
pairs straddling a bucket edge, key isolation) are explicit.
"""

from __future__ import annotations

import datetime as dt

import pytest

from project_map_reduce_spark.operators.rangejoin import interval_join
from tools.plan_rules import formatted_plan

_T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _df(spark, name, rows):
    return spark.createDataFrame(
        [(k, i, _T0 + dt.timedelta(seconds=s)) for k, i, s in rows],
        f"key int, {name}_id int, {name}_ts timestamp",
    )


def _pairs(spark, left_rows, right_rows, lo, up):
    out = interval_join(
        _df(spark, "l", left_rows),
        _df(spark, "r", right_rows),
        "key",
        "l_ts",
        "r_ts",
        lower_sec=lo,
        upper_sec=up,
    )
    return sorted((r.l_id, r.r_id) for r in out.collect())


def test_window_edges_half_open(spark):
    """(l+lower, l+upper]: the lower edge is excluded (strictly after),
    the upper edge included."""
    got = _pairs(
        spark,
        [(1, 10, 100)],
        [(1, 20, 100), (1, 21, 101), (1, 22, 160), (1, 23, 161)],
        0.0,
        60.0,
    )
    assert got == [(10, 21), (10, 22)]


def test_pairs_straddling_bucket_boundary_found(spark):
    """A right row in the NEXT bucket must still match — the left
    window's 2-bucket replication covers the straddle."""
    # window 60s; buckets are [0,60), [60,120)...; left at 59 matches
    # right at 119 (same window, different bucket).
    got = _pairs(spark, [(1, 10, 59)], [(1, 20, 119)], 0.0, 60.0)
    assert got == [(10, 20)]


def test_keys_isolate(spark):
    got = _pairs(spark, [(1, 10, 0)], [(2, 20, 30)], 0.0, 60.0)
    assert got == []


def test_offset_window(spark):
    """Non-zero lower bound: window (l+30, l+90]."""
    got = _pairs(
        spark,
        [(1, 10, 0)],
        [(1, 20, 30), (1, 21, 31), (1, 22, 90), (1, 23, 91)],
        30.0,
        90.0,
    )
    assert got == [(10, 21), (10, 22)]


def test_empty_window_rejected(spark):
    with pytest.raises(ValueError, match="empty window"):
        _pairs(spark, [(1, 10, 0)], [(1, 20, 0)], 60.0, 60.0)


def test_plan_is_equijoin_not_nested_loop(spark):
    """The whole point: the physical join must be hash/sort-merge on
    (key, bucket) — no BroadcastNestedLoopJoin, no CartesianProduct."""
    out = interval_join(
        _df(spark, "l", [(1, 10, 0)]),
        _df(spark, "r", [(1, 20, 30)]),
        "key",
        "l_ts",
        "r_ts",
        lower_sec=0.0,
        upper_sec=60.0,
    )
    plan = formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan
