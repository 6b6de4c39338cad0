"""Semantic tests for the OLAP aggregate extension (Q64-Q66) beyond the
hash-match gate: pivot/unpivot round-trip and the exact-vs-sketch
percentile contract that the 100 TB swap depends on."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_map_reduce_spark.plans.olap_extra import (
    q_freq_itemsets,
    q_percentiles,
    q_pivot_status,
)
from project_map_reduce_spark.tables import _PINNED, load, table_path


def test_pivot_row_sums_match_group_counts(spark, sf_dir):
    """Un-pivoting by summing the status columns must recover the plain
    per-priority counts — no row lost or double-counted by the pivot."""
    p = q_pivot_status(spark, sf_dir)
    recovered = {
        r.o_orderpriority: r.total
        for r in p.select(
            "o_orderpriority",
            (F.col("n_f") + F.col("n_o") + F.col("n_p")).alias("total"),
        ).collect()
    }
    plain = {
        r.o_orderpriority: r.n
        for r in load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert recovered == plain


def test_approx_percentile_within_tolerance_of_exact(spark, sf_dir):
    """The documented 100 TB drop-in: approx_percentile at accuracy
    10000 must land within 1% relative of the exact percentile on every
    group — the contract that makes the swap safe."""
    li = load(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("approx"),
    )
    for r in both.collect():
        assert abs(r.approx - r.exact) <= 0.01 * abs(r.exact), (
            r.l_returnflag,
            r.exact,
            r.approx,
        )
    # sanity on the registered exact query: quantiles are monotone
    for r in q_percentiles(spark, sf_dir).collect():
        assert r.p25 <= r.p50 <= r.p75 <= r.p95


def test_rebuild_keeps_pinned_frame_cached(spark, sf_dir, tmp_path):
    """A second build of a query in one session asks to cache the same
    plan as the first, and Spark's CacheManager keeps one entry per
    plan: releasing the first build's frame must not drop the entry the
    second build reads. A build over other data must release it."""
    import shutil

    cm = spark._jsparkSession.sharedState().cacheManager()

    def cached(df):
        return cm.lookupCachedData(df._jdf).isDefined()

    q_freq_itemsets(spark, sf_dir).collect()
    first = _PINNED["q_freq_itemsets.baskets"]
    q_freq_itemsets(spark, sf_dir)
    assert cached(_PINNED["q_freq_itemsets.baskets"])
    assert cached(first)

    shutil.copy(table_path(sf_dir, "lineitem"), table_path(str(tmp_path), "lineitem"))
    q_freq_itemsets(spark, str(tmp_path))
    assert cached(_PINNED["q_freq_itemsets.baskets"])
    assert not cached(first)
