"""Typed sinks: bucketed tables and an idempotent streaming sink
(SURVEY.md §2 B.1 counterpart to readers.py).

Directory-partitioned parquet needs no wrapper: ``df.write.partitionBy``
already buys ``PartitionFilters`` pruning at the scan (asserted in
tests/test_sinks.py). The layout technique that lives here changes
DOWNSTREAM plans rather than just writing bytes:

- **Bucketed tables** (`write_bucketed`): pre-hash-partitioned +
  sorted-by-key table layout. Two tables bucketed on the same key with
  the same bucket count join with NO shuffle exchange on either side —
  the co-located join the brief's scale rules call for. At 100 TB this
  turns every recurring fact⋈fact join on the bucket key from a full
  2-sided shuffle into a local merge.

The reference's only sink is S3 `put` of one artifact per record plus a
driver-rendered HTML summary (Workers.java:154-160, LocalApp.java:302-343);
``readers.write_report`` covers that analog. These sinks are the
engine-grade layouts the reference has no equivalent of.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    *,
    n_buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) managed table.

    Bucketing pre-applies the hash partitioning a join/aggregation on
    ``bucket_col`` would otherwise shuffle for: every reader that joins
    or aggregates on that key gets an exchange-free plan (Catalyst
    recognizes the layout from catalog metadata). ``sort=True``
    additionally pre-sorts within buckets so sort-merge join skips its
    sort. Bucket counts must match across tables meant to co-join."""
    writer = df.write.bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.mode(mode).format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a managed (possibly bucketed) table back through the catalog
    — required for the bucketed layout to reach the planner; a raw
    ``spark.read.parquet`` of the same files would discard it."""
    return spark.table(table)


def write_stream_idempotent(
    stream_df,
    path: str,
    checkpoint: str,
    *,
    trigger_available_now: bool = True,
    output_mode: str = "append",
):
    """Exactly-once streaming file sink via idempotent foreachBatch.

    Structured Streaming guarantees at-least-once delivery of each
    micro-batch to foreachBatch: after a crash between "batch written"
    and "offsets committed", the SAME (batchId, data) is replayed. The
    reference meets the identical problem with SQS visibility timeouts
    and simply double-counts (SURVEY.md §1.4); the engine answer is an
    IDEMPOTENT write — each batch lands in a batchId-derived directory
    with mode('overwrite'), so a replay overwrites byte-identical
    output instead of appending a duplicate. Deterministic batch
    content (file source + available-now trigger) makes the overwrite
    a true no-op on replay.

    Returns the started StreamingQuery; caller awaits termination.
    At cluster scale nothing changes: per-batch directories are how
    Spark's own exactly-once file sink (_spark_metadata) reasons, and
    downstream batch readers just glob the root.
    """

    def _write_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    writer = (
        stream_df.writeStream.foreachBatch(_write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
