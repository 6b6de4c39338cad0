"""Unit tests for the as-of join operator (operators/asof.py).

The keyed join is driven by q_join_asof's DuckDB-oracle parity; this
file pins the no-predecessor case, which the fixture may not exercise.
"""

from __future__ import annotations

from datetime import datetime

from project_map_reduce_spark.operators.asof import asof_join_keyed


def _ts(m, d, h=0):
    return datetime(2024, m, d, h)


def test_keyed_asof_null_when_no_predecessor(spark):
    left = spark.createDataFrame(
        [(1, 7, _ts(1, 1))], "lid long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(9, 7, _ts(2, 1), 5.0)], "rid long, k long, sig_ts timestamp, v double"
    )
    out = asof_join_keyed(
        left,
        right,
        key="k",
        left_ts="ts",
        right_ts="sig_ts",
        value_cols=["v"],
        tiebreak="rid",
    ).collect()
    assert len(out) == 1 and out[0]["v"] is None
