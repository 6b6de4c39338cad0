"""The benchmark's workloads: fixed query lists from the registry.

Each list is a short subset of the family it stands for, kept small
enough that a whole run (JVM launch, three set-ups, five timed passes,
the oracle check) takes about a minute on four cores. See README.md for
why ``llm_driver`` is not among them.
"""

from __future__ import annotations

from typing import NamedTuple


class Workload(NamedTuple):
    queries: list[str]
    why: str


WORKLOADS: dict[str, Workload] = {
    "relational_batch": Workload(
        ["q_join_broadcast", "q_groupingsets_df", "q_salted_agg"],
        "scans, aggregates and a join over single-row-group tables: tables and "
        "Spark execution do the work, plan-build is small, streaming is bypassed",
    ),
    "stream_lifecycle": Workload(
        ["q_watermark_late"],
        "a finite stream run to completion: staged batches, readStream, a stateful "
        "watermarked aggregation, an idempotent sink and a snapshot",
    ),
}
