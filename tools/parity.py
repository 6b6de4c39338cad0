"""Local replica of the driver's correctness gate.

Runs each registered query on Spark and its oracle SQL on DuckDB over
the same parquet fixtures, then compares row count, column-name set and
an order-insensitive canonical value table (columns sorted by name, rows
sorted lexicographically, cells canonicalized). The same build is held
to the plan rules (``tools/plan_rules.py``). This is the tight inner
feedback loop; the driver does the authoritative run at sf0.01.

Usage:
    python tools/parity.py [--sf-dir /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_cell(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_table(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(canon_cell(row[i]) for i in order) for row in rows]
    out.sort()
    return sorted(colnames), out


# DuckDB types that lose or change representation on the pandas fetch
# path (fetchdf): HUGEINT and DECIMAL become float64, so "123" hashes as
# "123.0" in a driver that fetches via pandas. Oracles must CAST these
# away (sum(BIGINT) -> HUGEINT is the common trap). Root cause of the
# round-2 q_token_count / q_json_extract driver mismatches.
_HAZARD_TYPES = ("HUGEINT", "DECIMAL", "UHUGEINT", "UBIGINT")


def _pandas_rows(df) -> list[tuple]:
    """Canonical row tuples out of a pandas frame — the fetch path an
    external driver typically uses (`toPandas` / `fetchdf`). Converts
    pandas' own null/typing artifacts back to plain Python so the same
    canon_cell applies: NaT -> None, numpy scalars -> Python scalars,
    numpy arrays -> lists."""
    import numpy as np
    import pandas as pd

    out = []
    for row in df.itertuples(index=False, name=None):
        conv = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                conv.append(v)
            elif isinstance(v, pd.Timestamp):
                # DATE columns diverge across engines on this path
                # (Spark keeps date objects, DuckDB promotes to midnight
                # Timestamps) while real drivers compare them equal —
                # normalize tz-naive midnight to the date. Symmetric for
                # genuine midnight timestamps: both sides collapse.
                dt_ = v.to_pydatetime()
                if dt_.tzinfo is None and dt_.time() == dt_.min.time():
                    conv.append(dt_.date())
                else:
                    conv.append(dt_)
            elif v is pd.NaT:
                conv.append(None)
            elif isinstance(v, np.generic):
                conv.append(v.item())
            elif isinstance(v, np.ndarray):
                conv.append(v.tolist())
            else:
                conv.append(v)
        out.append(tuple(conv))
    return out


def compare(name, spark_df, duck_rel, *, pandas_path: bool = False) -> list[str]:
    problems = []
    s_cols = spark_df.columns
    d_cols = list(duck_rel.columns)
    # Flag hazard-typed oracle columns but keep comparing: the hazard
    # only bites on the pandas fetch path, and returning early here
    # would mask a genuine value regression behind the type warning.
    for col, typ in zip(duck_rel.columns, duck_rel.types):
        if any(h in str(typ).upper() for h in _HAZARD_TYPES):
            problems.append(
                f"driver-hazard: oracle column '{col}' has type {typ} — "
                "becomes float64 on the pandas fetch path; CAST it in the SQL"
            )
    if pandas_path:
        # Mirror the external driver's fetch path exactly: Arrow/pandas
        # on both sides, then the same canonicalization. Catches
        # representation asymmetries row-based fetching can't see.
        s_rows = _pandas_rows(spark_df.toPandas())
        d_rows = _pandas_rows(duck_rel.fetchdf())
    else:
        s_rows = [tuple(r) for r in spark_df.collect()]
        d_rows = duck_rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")
    _, s_canon = canon_table(s_rows, s_cols)
    _, d_canon = canon_table(d_rows, d_cols)
    if s_canon != d_canon:
        n_show = 0
        for i, (a, b) in enumerate(zip(s_canon, d_canon)):
            if a != b and n_show < 3:
                problems.append(f"row {i}: spark={a} duck={b}")
                n_show += 1
        if not problems:
            problems.append("value tables differ (length mismatch tail)")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all with oracles)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--rows-only", action="store_true", help="include oracle-less queries")
    ap.add_argument(
        "--pandas",
        action="store_true",
        help="fetch both result sets through the pandas path (Spark "
        "toPandas / DuckDB fetchdf) — mirrors an external driver that "
        "compares dataframes; catches representation asymmetries the "
        "row-based fetch can't see",
    )
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (no engine confs) — replicates the "
        "external driver's session shape; catches any query that secretly "
        "depends on the engine session factory",
    )
    args = ap.parse_args()

    import duckdb

    from project_map_reduce_spark.registry import entries
    from project_map_reduce_spark.session import get_spark
    from project_map_reduce_spark.tables import TABLES, table_path
    from tools.plan_rules import formatted_plan, plan_problems

    reg = entries()
    names = args.names or [n for n, e in reg.items() if e.oracle or args.rows_only]
    unknown = [n for n in names if n not in reg]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("parity")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf_dir, t)}')"
        )

    n_fail = 0
    for name in names:
        e = reg[name]
        t0 = time.time()
        try:
            sdf = e.fn(spark, args.sf_dir)
            problems = plan_problems(name, formatted_plan(sdf))
            if e.oracle is None:
                print(f"ROWS-ONLY {name}: {sdf.count()} rows")
            else:
                problems += compare(
                    name, sdf, con.sql(e.oracle), pandas_path=args.pandas
                )
        except Exception as ex:  # noqa: BLE001
            problems = [f"exception: {type(ex).__name__}: {ex}"]
        dt = time.time() - t0
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({dt:.1f}s)")
            for p in problems:
                print(f"  - {p}")
        else:
            print(f"OK   {name} ({dt:.1f}s)")
    print(f"\n{len(names) - n_fail}/{len(names)} passed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
