"""Physical-plan audit.

The plan rules (``tools/plan_rules.py``) are asserted here, by name, on
each registered query's formatted plan as the oracle parity test built
it: ``test_no_accidental_cartesian[<query>]`` for the global rules and
one ``test_<contract>`` per contract. Parity stores that plan in the
``query_plans`` fixture, and ``conftest.py`` runs this module after it,
so a run of both builds each query once; run alone, this module builds
the queries it checks. The other tests need something else: a frame they build
themselves (AQE skew split, runtime bloom filter), the final adaptive
plan after execution, the simple plan string, the physical plan's
objects, or a module's source.
"""

from __future__ import annotations

import re

import pytest

from project_map_reduce_spark.registry import entries
from tools.plan_rules import CONTRACTS, formatted_plan, global_problems


@pytest.fixture
def built_plan(query_plans, spark, sf_dir):
    """A query's formatted plan as parity stored it, built if it has not."""

    def get(name):
        if name not in query_plans:
            query_plans[name] = formatted_plan(entries()[name].fn(spark, sf_dir))
        return query_plans[name]

    return get


@pytest.mark.parametrize("name", sorted(entries()))
def test_no_accidental_cartesian(built_plan, name):
    """No query plan may contain a CartesianProduct — the all-pairs
    degeneration every 100-TB design rule in SURVEY.md §4.2 forbids —
    nor a BroadcastNestedLoopJoin or SortAggregate off its allow-list."""
    problems = global_problems(name, built_plan(name))
    assert not problems, problems


def _contract_test(query, check):
    def test(built_plan):
        check(built_plan(query))

    test.__doc__ = check.__doc__
    return test


# One test per plan contract, named after it: test_<contract function>.
for _query, _check in CONTRACTS.items():
    globals()["test_" + _check.__name__] = _contract_test(_query, _check)


def test_whole_stage_codegen_active(spark, sf_dir):
    """Q15's scan→project→agg pipeline must be inside WholeStageCodegen
    spans (JVM-side, vectorized) — no interpreted-evaluation fallback.
    (AQE finalizes codegen at runtime, so execute first and audit the
    final adaptive plan.)"""
    df = entries()["q_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = formatted_plan(df)
    assert "isFinalPlan=true" in plan, plan
    assert "codegen id" in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """SURVEY §4.2 claims AQE's skew-join split handles hot keys the
    salted operators don't cover — prove it: a join whose left side is
    99% one key must show SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead in the FINAL adaptive plan (thresholds lowered so
    the fixture-scale skew crosses them)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("lv")
        ).union(
            spark.range(5_000).select(
                (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("lv")
            )
        )
        right = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = left.join(right.hint("merge"), "k").select(
            F.sum("lv").alias("s")
        )
        [row] = j.collect()  # drive THIS queryExecution to the final plan
        plan = formatted_plan(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        # the AQEShuffleRead node detail must record the skew split
        assert "skewed" in plan, plan
        # sanity: the join is still correct under the split — every left
        # row matches exactly one right row, so s = sum of all lv ids
        assert row["s"] == sum(range(200_000)) + sum(range(5_000))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Spark's runtime Bloom-filter injection — the mechanism that
    pre-filters a big probe side by a selective build side BEFORE the
    shuffle (SURVEY §4.2 'free from Catalyst' list) — must appear as a
    might_contain predicate on the lineitem scan side when joining
    against a brand-filtered part (thresholds opened to fixture
    scale)."""
    from pyspark.sql import functions as F

    from project_map_reduce_spark.tables import load

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        part = load(spark, sf_dir, "part").filter(
            F.col("p_brand") == "Brand#1"
        )
        j = li.join(part.hint("merge"), li.l_partkey == part.p_partkey).select(
            F.sum("l_quantity").alias("q")
        )
        plan = formatted_plan(j)
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_watermark_late_returns_distributed_snapshot(spark, sf_dir):
    """Q98 (like Q90, asserted in tests/test_streaming.py) must return
    a lazy parquet read of the executor-written snapshot — driver-side
    gathers of per-window totals would violate SURVEY §4.2. Static
    check only here (the streaming test drives it end to end): the
    registered callable exists and its module has no ROW-SCALE
    collect() in the query path. Exactly ONE collect is allowed: Q163's
    manifest-verification summary (r11) — the distributed one-scan
    groupBy(part, event_type) whose output is O(parts x types) cells,
    the documented Q118/Q124 small-re-lift pattern that REPLACED a
    per-line driver readback loop; any second collect in the module is
    a regression."""
    import inspect

    from project_map_reduce_spark.plans import streaming_shaped as mod

    src = inspect.getsource(mod)
    n = src.count(".collect()")
    assert n <= 1, f"driver gather crept back into B.9 ({n} collect sites)"
    if n == 1:
        before = src[: src.index(".collect()")]
        assert 'groupBy("part", "event_type")' in before.rsplit("def ", 1)[-1], (
            "the single allowed collect moved away from Q163's "
            "O(parts x types) manifest summary"
        )


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """Q121: the NOT IN subquery must compile to the NULL-AWARE anti
    join (the trailing isNullAware=true argument on the LeftAnti
    broadcast join — only visible in the simple plan string, the
    formatted explain elides it), not a plain anti join that would
    silently drop 3VL semantics under nullable keys."""
    df = entries()["q_not_in"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"LeftAnti, BuildRight, true", plan), plan


def _agg_buffer_types(df) -> list[str]:
    """Data type of every aggregation-buffer slot in ``df``'s physical
    plan (partial and final aggregates alike)."""
    types, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        if "Aggregate" in node.nodeName():
            exprs = node.aggregateExpressions()
            for i in range(exprs.size()):
                attrs = exprs.apply(i).aggregateFunction().aggBufferAttributes()
                types += [attrs.apply(j).dataType().simpleString() for j in range(attrs.size())]
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return types


@pytest.mark.parametrize("name", ["q_groupingsets_df", "q_join_broadcast"])
def test_money_sum_buffers_stay_compact(spark, sf_dir, name):
    """sum6's aggregation buffers hold no decimal wider than 18 digits:
    past 18 Spark leaves its compact-long form, and every row reads, adds
    and writes back a heap BigDecimal (the DECIMAL(28,6) accumulator
    a decimal(18,6) sum widens to)."""
    types = _agg_buffer_types(entries()[name].fn(spark, sf_dir))
    assert types, name
    wide = [
        t for t in types
        if (m := re.fullmatch(r"decimal\((\d+),\d+\)", t)) and int(m.group(1)) > 18
    ]
    assert not wide, types
