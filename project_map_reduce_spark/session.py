"""SparkSession factory.

Defaults are tuned for the local[N] test/bench harness but every knob is
chosen for cluster-scale behavior too:

- AQE on (runtime partition coalescing, skew-join splitting, plan
  re-optimization) — the reference has no optimizer at all and a slow
  record blocks a whole worker (SURVEY.md §4.1); AQE is the Spark-native
  answer to both sizing and skew.
- Arrow on — every pandas-UDF crossing is Arrow-batched, never per-row.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle exactly (events.ts is ns-precision parquet, read as µs).
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number, so we also leave
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` unset
  locally and document 2-3× total-cores for cluster deploys.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "project_map_reduce_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a cluster you would drop ``.master(...)`` and submit with
    spark-submit, and drop the ``checkpointFileManagerClass`` line with
    it; everything else carries over unchanged.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        # Streaming checkpoint and state-store files are written to a temp
        # file and moved with FileSystem.rename: one rename(2) on the local
        # file system. The default FileContext manager asks for the link
        # status of both paths on every rename, and without Hadoop's native
        # library each lookup forks a `readlink` child. A cluster deploy
        # drops this line together with .master(...): an HDFS checkpoint
        # relies on FileContext's atomic overwrite-rename.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # sum6 (functions/det.py) raises on out-of-range inputs (the
        # DECIMAL(18,6) cast) and on overflow of its long limb sums; that
        # contract holds only under ANSI semantics. Spark 4 defaults to
        # ANSI on, but a deployment that flips it would turn these into
        # silent nulls or wrapped sums — pin it so the guarantee is ours,
        # not inherited.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ns-precision parquet timestamps must land as TimestampType (µs),
        # matching DuckDB's µs view of the same files.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Older Sparks have no ns timestamp type and, with this conf, read
        # INT64(NANOS) parquet columns as raw longs, which tables.load
        # truncates to µs TIMESTAMP_NTZ (DuckDB's µs view of the same
        # files). Spark 4.1 reads events.ts as TIMESTAMP_NTZ whatever this
        # conf says, so there the bigint path in tables.load never runs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # The state store stays Spark's default HDFS-backed provider: the round-7
    # A/B (BASELINE.md) has it winning or tying RocksDB while state fits the heap.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on ``spark`` for the block, then put each key back as
    it was: its old value if it had one, unset if it had none. The conf
    is session-global while the block runs, so keep the block to the
    calls that read it. A stream copies its session conf at ``start()``,
    so a stream's override needs to be held only around that call."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
