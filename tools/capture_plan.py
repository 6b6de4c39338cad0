"""Capture ``explain("formatted")`` for named queries to plans/rNN/.

Usage:
    python tools/capture_plan.py --tag before --out plans/r13 \
        [--sf-dir /root/testdata/sf0.1] q_name [q_name ...]

Writes ``<out>/<query>_<tag>.txt``. Queries whose builder executes side
effects at construction time (streaming jobs, writes) still work — the
captured plan is the FINAL returned frame's; construction cost is paid
once per query.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_map_reduce_spark.registry import entries  # noqa: E402
from project_map_reduce_spark.session import get_spark  # noqa: E402
from tools.plan_rules import formatted_plan  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="+")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--tag", default="before")
    p.add_argument("--out", default="plans/r13")
    a = p.parse_args()

    spark = get_spark("capture_plan")
    os.makedirs(a.out, exist_ok=True)
    reg = entries()
    rc = 0
    for name in a.names:
        if name not in reg:
            print(f"capture_plan: unknown query {name}", file=sys.stderr)
            rc = 1
            continue
        try:
            df = reg[name].fn(spark, a.sf_dir)
            plan = formatted_plan(df)
        except Exception as ex:  # noqa: BLE001
            print(f"capture_plan: {name} failed: {ex}", file=sys.stderr)
            rc = 1
            continue
        path = os.path.join(a.out, f"{name}_{a.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"capture_plan: wrote {path} ({len(plan)} chars)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
