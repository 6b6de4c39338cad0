import datetime as dt
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import run
from perfbench.oracle import Oracle, load_canon_table, mismatch

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture
def oracle(tmp_path):
    pq.write_table(
        pa.table({"k": [1, 2, 2], "v": [0.5, 1.5, -0.0], "ts": [dt.datetime(2024, 1, 1)] * 3}),
        tmp_path / "t.parquet",
    )
    return Oracle(str(tmp_path), ["t"], load_canon_table(ROOT))


def test_canon_table_is_the_parity_tools_own():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import parity
    finally:
        sys.path.pop(0)
    canon = load_canon_table(ROOT)
    rows = [(2, None), (1, 0.0)]
    assert canon(rows, ["b", "a"]) == parity.canon_table(rows, ["b", "a"])


def test_matching_rows_in_any_order_and_column_order_pass(oracle):
    sql = "SELECT k, sum(v) AS s FROM t GROUP BY k"
    assert oracle.check("q", sql, ["s", "k"], [(1.5, 2), (0.5, 1)]) == []


def test_value_row_count_and_column_mismatches_are_reported(oracle):
    sql = "SELECT k, sum(v) AS s FROM t GROUP BY k"
    assert oracle.check("q", sql, ["k", "s"], [(1, 0.5), (2, 9.0)])[0].startswith("row 1: spark=")
    assert "row count" in oracle.check("q", sql, ["k", "s"], [(1, 0.5)])[0]
    assert "columns differ" in oracle.check("q", sql, ["k", "x"], [(1, 0.5), (2, 1.5)])[0]


def test_timestamps_and_negative_zero_canonicalise_like_parity(oracle):
    sql = "SELECT k, v, ts FROM t"
    rows = [(1, 0.5, dt.datetime(2024, 1, 1)), (2, 1.5, dt.datetime(2024, 1, 1)),
            (2, 0.0, dt.datetime(2024, 1, 1))]
    assert oracle.check("q", sql, ["k", "v", "ts"], rows) == []


def test_oracle_result_is_computed_once_per_query(oracle):
    sql = "SELECT count(*) AS n FROM t"
    oracle.check("q", sql, ["n"], [(3,)])
    oracle.con.execute("DROP VIEW t")
    assert oracle.check("q", sql, ["n"], [(3,)]) == []


def test_verify_counts_mismatch_missing_oracle_and_oracle_error(oracle):
    results = [
        ("good", ["n"], [(3,)]),
        ("bad", ["n"], [(4,)]),
        ("orphan", ["n"], [(3,)]),
        ("broken", ["n"], [(3,)]),
    ]
    sql = {
        "good": "SELECT count(*) AS n FROM t",
        "bad": "SELECT count(*) AS n FROM t",
        "broken": "SELECT * FROM no_such_table",
    }
    problems = run.verify(results, sql, oracle)
    assert len(problems) == 3
    assert problems[0].startswith("bad: oracle mismatch")
    assert problems[1] == "orphan: no oracle registered"
    assert problems[2].startswith("broken: oracle mismatch: oracle error")


def test_mismatch_is_empty_only_for_identical_tables():
    assert mismatch(["a"], [("1",)], ["a"], [("1",)]) == []
    assert mismatch(["a"], [("1",)], ["a"], [("2",)]) != []
