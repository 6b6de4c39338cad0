"""Durable incremental materialized view of partial aggregates.

The MV stores PARTIALS — per-group counts and exact ``decimal(18,6)``
value sums — never finals: partials merge associatively (counts add,
decimal sums add order-independently; averages derive from sum/count),
so a refresh is ``O(|MV| + |delta|)`` regardless of history size. A
double sum partial would make the stored bytes depend on accumulation
order; the decimal contract is what makes two successive refreshes
bit-equal to one full recompute (proven by
tests/test_warehouse_graph.py).

Durability layout — versioned directories, not in-place overwrite::

    <path>/v=0/    first full compute
    <path>/v=1/    after refresh #1
    ...

``mv_read`` resolves the highest version that carries Spark's own
``_SUCCESS`` marker, so a refresh that dies mid-write leaves the
previous version as the live MV (write isolation without a table
format; on S3-class stores the same layout works because no rename of
a live directory ever happens — each version is written fresh and the
marker commits it). ``mv_refresh`` reads version N, merges the delta's
partials, writes version N+1, and prunes versions older than
``keep_versions``. Readers of version N are unaffected by a concurrent
refresh; single-writer is the caller's contract (one refresh job per
MV, the normal warehouse arrangement).

The streaming form (``mv_stream_refresh`` → ``mv_apply_batch``) runs a
Structured Streaming source INTO the MV with exactly-once semantics by
construction: version number = batch_id + 1, merge base = latest
committed version ≤ batch_id, overwrite on replay — see
``mv_apply_batch``'s docstring for why that triple makes checkpoint
replay safe where a naive foreachBatch-append would double-count.

Reference analog: none (``ext``) — the reference recomputes every
query from scratch (Manager.java re-runs the full scatter per request);
incremental view maintenance is warehouse-engine capability it lacks.
Query harnesses: plans/warehouse.py::q_mv_incremental (batch) and
::q_stream_mv_refresh (streaming).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def mv_partials(df: DataFrame, keys: list[str], sums: dict[str, str]) -> DataFrame:
    """Aggregate ``df`` to the MV's stored partial shape: one row per
    ``keys`` group with ``n_events`` (count) and one exact
    ``decimal(18,6)`` sum per ``sums`` entry (out_name -> value col)."""
    aggs = [F.count(F.lit(1)).alias("n_events")] + [
        F.sum(F.col(src).cast("decimal(18,6)")).alias(out)
        for out, src in sums.items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def _merge(stored: DataFrame, delta: DataFrame, keys: list[str],
           sums: dict[str, str]) -> DataFrame:
    aggs = [F.sum("n_events").alias("n_events")] + [
        F.sum(out).alias(out) for out in sums
    ]
    return stored.unionByName(delta).groupBy(*keys).agg(*aggs)


def _versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("v=") and name[2:].isdigit():
            if os.path.exists(os.path.join(path, name, "_SUCCESS")):
                out.append(int(name[2:]))
    return sorted(out)


def _current_version(path: str) -> int:
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(
            f"mv_read: no committed MV version under {path!r} "
            "(mv_init it first)"
        )
    return vs[-1]


def mv_read(spark: SparkSession, path: str) -> DataFrame:
    """The live MV: the highest _SUCCESS-committed version's partials."""
    return spark.read.parquet(os.path.join(path, f"v={_current_version(path)}"))


def mv_init(df: DataFrame, keys: list[str], sums: dict[str, str],
            path: str) -> None:
    """Full compute: write ``df``'s partials as version 0."""
    mv_partials(df, keys, sums).write.mode("overwrite").parquet(
        os.path.join(path, "v=0")
    )


def mv_refresh(spark: SparkSession, path: str, delta: DataFrame,
               keys: list[str], sums: dict[str, str],
               keep_versions: int = 2) -> int:
    """Merge ``delta``'s partials into the live MV and commit the next
    version; returns the new version number. Refresh cost is
    O(|MV| + |delta|) — history is never rescanned. The caller owns the
    delta predicate (typically ``ts >= last_cutoff``); feeding a row
    twice double-counts, exactly as in any watermark-based IVM."""
    cur = _current_version(path)
    merged = _merge(mv_read(spark, path), mv_partials(delta, keys, sums),
                    keys, sums)
    new = cur + 1
    merged.write.mode("overwrite").parquet(os.path.join(path, f"v={new}"))
    for v in _versions(path)[:-keep_versions] if keep_versions > 0 else []:
        if v != new:
            shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return new


def mv_finalize(mv: DataFrame, sums: dict[str, str]) -> DataFrame:
    """User-facing view of stored partials: decimal sums cast back to
    double (the query-surface type), counts kept."""
    cols = [c for c in mv.columns if c != "n_events" and c not in sums]
    return mv.select(
        *cols,
        F.col("n_events").alias("n_events"),
        *[F.col(out).cast("double").alias(out) for out in sums],
    )


def mv_apply_batch(spark: SparkSession, path: str, batch: DataFrame,
                   batch_id: int, keys: list[str], sums: dict[str, str],
                   keep_versions: int = 2) -> int | None:
    """Exactly-once streaming refresh step (foreachBatch body): merge
    one micro-batch's partials into the MV, committed as version
    ``batch_id + 1``.

    Idempotence is BY CONSTRUCTION, not by marker bookkeeping: the
    target version number is a pure function of the batch id, the merge
    base is the latest committed version ``<= batch_id`` (so a version
    this same batch wrote before a crash is never its own input), and
    the write OVERWRITES the target directory — a replayed batch
    recomputes byte-identical content over whatever the dead attempt
    left (the write_stream_idempotent per-batch-directory discipline
    applied to a MERGE target, where naive re-append would double-count
    the delta: the exact failure mode tests/test_mv.py crash-proves).
    Empty batches (availableNow's trailing no-data batch) are skipped —
    version numbering stays sparse and the base rule handles gaps.
    Returns the committed version, or None for a skipped empty batch.
    """
    if batch.isEmpty():
        return None
    delta = mv_partials(batch, keys, sums)
    base_versions = [v for v in _versions(path) if v <= batch_id]
    if base_versions:
        base = spark.read.parquet(os.path.join(path, f"v={base_versions[-1]}"))
        merged = _merge(base, delta, keys, sums)
    else:
        merged = delta
    new = batch_id + 1
    merged.write.mode("overwrite").parquet(os.path.join(path, f"v={new}"))
    # Prune floor of TWO: a crashed batch may have committed its MV
    # version while its checkpoint commit was lost — the replay then
    # needs the PREVIOUS version as its merge base. Structured
    # Streaming replays at most the single latest uncommitted batch
    # (commits are sequential), so last + its base is always enough.
    for v in _versions(path)[: -max(keep_versions, 2)]:
        if v != new:
            shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return new


def mv_stream_refresh(stream: DataFrame, path: str, checkpoint: str,
                      keys: list[str], sums: dict[str, str]):
    """Run a stream INTO the MV: every micro-batch merges its partials
    exactly once (``mv_apply_batch``), the MV path is the only sink.
    Returns the started StreamingQuery (availableNow trigger — the
    finite-stream test harness; a production stream drops the trigger).
    Each merge runs on the batch's own session, which holds the conf the
    stream was started with, not whatever the caller's session has now."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        mv_apply_batch(batch.sparkSession, path, batch, batch_id, keys, sums)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
