"""Oracle check: each query's rows against its DuckDB oracle SQL.

The comparison is the repo's own correctness rule, reused rather than
copied: ``tools/parity.py``'s ``canon_table`` (columns sorted by name,
cells canonicalised, rows sorted), then equality of column names, row
count and canonical rows.
"""

from __future__ import annotations

import importlib.util
import os


def load_canon_table(root: str):
    """``canon_table`` from ``<root>/tools/parity.py``."""
    path = os.path.join(root, "tools", "parity.py")
    spec = importlib.util.spec_from_file_location("_perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_table


class Oracle:
    """DuckDB views over the benchmark's tables; oracle results cached
    per query, so repeated checks cost one DuckDB run each."""

    def __init__(self, sf_dir: str, tables, canon_table) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.canon = canon_table
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str, sql: str):
        if name not in self._expected:
            rel = self.con.sql(sql)
            cols = list(rel.columns)
            self._expected[name] = self.canon(rel.fetchall(), cols)
        return self._expected[name]

    def check(self, name: str, sql: str, columns: list[str], rows: list[tuple]) -> list[str]:
        """Problems found (empty when the rows match the oracle)."""
        exp_cols, exp_rows = self.expected(name, sql)
        got_cols, got_rows = self.canon(rows, list(columns))
        return mismatch(exp_cols, exp_rows, got_cols, got_rows)


def mismatch(exp_cols, exp_rows, got_cols, got_rows) -> list[str]:
    if exp_cols != got_cols:
        return [f"columns differ: spark={got_cols} oracle={exp_cols}"]
    if len(exp_rows) != len(got_rows):
        return [f"row count differs: spark={len(got_rows)} oracle={len(exp_rows)}"]
    for i, (a, b) in enumerate(zip(got_rows, exp_rows)):
        if a != b:
            return [f"row {i}: spark={a} oracle={b}"]
    return []
