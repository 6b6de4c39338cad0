"""Focused query timer — bench.py's measurement discipline for a subset.

Times only the named queries (min-of-k, noop sink, warm session, steal
accounting) so a regression can be re-measured without paying the full
full-inventory bench. Used for the clean-host re-measures VERDICT r3 asks for
and for the sf1 scale probe.

``--gate`` applies the round-12 storm discipline per RUN (the pattern
that finally produced grid-parity records after six storm-poisoned
sweeps): before each timed run, block until the host's steal rate over
a 6s window is <= 1% (``bench._host_gate``); after the run, keep it
only if its own steal was under ``--max-run-steal`` seconds; retry
until ``--clean-runs`` clean runs are collected or the per-query time
budget is exhausted. min_sec is the min over CLEAN runs when any exist
(all runs are recorded).

Usage:
    python tools/timeq.py [--sf-dir DIR] [--runs 3] [--gate] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _host_gate, _steal_sec  # noqa: E402
from project_map_reduce_spark.registry import entries  # noqa: E402
from project_map_reduce_spark.session import get_spark  # noqa: E402
from project_map_reduce_spark.tables import load  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--gate", action="store_true")
    p.add_argument("--clean-runs", type=int, default=3)
    p.add_argument("--max-run-steal", type=float, default=0.3)
    p.add_argument("--gate-rate", type=float, default=0.01)
    p.add_argument("--gate-timeout", type=float, default=600.0)
    p.add_argument("--query-budget", type=float, default=900.0)
    p.add_argument("queries", nargs="+")
    a = p.parse_args()

    spark = get_spark("timeq")
    li = load(spark, a.sf_dir, "lineitem")
    li.count()
    li.rollup("l_returnflag").count().write.format("noop").mode("overwrite").save()

    reg = entries()
    out: dict[str, dict] = {}
    steal0 = _steal_sec()
    for name in a.queries:
        e = reg[name]
        runs: list[tuple[float, float]] = []
        clean: list[float] = []
        waited_total = 0.0
        budget_t0 = time.perf_counter()
        while True:
            if a.gate:
                waited_total += _host_gate(
                    sample_sec=6.0,
                    steal_rate=a.gate_rate,
                    timeout_sec=a.gate_timeout,
                )["waited_sec"]
            s0 = _steal_sec()
            t0 = time.perf_counter()
            e.fn(spark, a.sf_dir).write.format("noop").mode("overwrite").save()
            wall = round(time.perf_counter() - t0, 3)
            st = round(_steal_sec() - s0, 2)
            runs.append((wall, st))
            if st <= a.max_run_steal:
                clean.append(wall)
            if not a.gate:
                if len(runs) >= a.runs:
                    break
            elif len(clean) >= a.clean_runs or (
                time.perf_counter() - budget_t0 > a.query_budget
                and len(runs) >= a.runs
            ):
                break
        out[name] = {
            "min_sec": min(clean) if clean else min(r[0] for r in runs),
            "clean_runs": len(clean),
            "runs": runs,
        }
        if a.gate:
            out[name]["gate_waited_sec"] = round(waited_total, 1)
        print(
            f"{name}: min {out[name]['min_sec']}s "
            f"({len(clean)} clean) runs {runs}",
            flush=True,
        )
    print(
        json.dumps(
            {"steal_sec_total": round(_steal_sec() - steal0, 2), "queries": out}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
