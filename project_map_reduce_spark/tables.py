"""Fixture-table access.

The driver pre-generates ten parquet tables per scale factor
(TESTDATA.md / FIXTURES.md). All queries load through here so that the
scan layer is one place: a parquet relation with Catalyst predicate
pushdown and column pruning. At cluster scale the same loader would
point at a partitioned table root; nothing else in the engine changes.

``load`` gives Spark the table's schema, read with pyarrow from the
parquet footer of its first part file, so building a scan runs no Spark
job; left to itself, Spark infers the schema with a one-task job on
every read. The footer read is one small read per load whatever the
table's size, so no schema is cached and none can go stale.

Scratch files live here too, so one module decides where they go and
when they are removed: ``scratch_dir`` for a layout a query builds and
removes before it returns, ``localize`` to gather a small result off
such a layout first, and ``session_dir``/``materialize`` for a result
the returned DataFrame still reads. ``pin`` does the same for a
cached frame: one per owner, released when the owner caches another.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _part_files(path: str) -> list[str]:
    """The parquet files of a table, sorted: ``[path]`` for a single
    file, else the part files of the directory (the layout any real
    writer produces). A part file is a ``*.parquet`` file not named
    ``_*``, or an extensionless ``part-*`` regular file that opens with
    the parquet magic; ``_SUCCESS``, ``.crc`` sidecars and ``part-*``
    subdirectories are skipped. The walk is O(files) driver-side
    metadata calls."""
    import glob

    if not os.path.isdir(path):
        return [path]
    parts = [
        f
        for f in glob.glob(os.path.join(path, "*.parquet"))
        if os.path.isfile(f) and not os.path.basename(f).startswith("_")
    ]
    parts += [
        f
        for f in glob.glob(os.path.join(path, "part-*"))
        if not f.endswith(".parquet") and _has_parquet_magic(f)
    ]
    if not parts:
        raise FileNotFoundError(f"no parquet part files under {path}")
    return sorted(parts)


def footer_rows(path: str) -> int:
    """Exact row count from parquet FOOTERS — zero Spark jobs (the
    guide-§1.2 fewer-passes discipline for queries that only need N).

    Handles both table shapes ``_part_files`` walks. One ~KB footer read
    per file, so even at 100 TB (thousands of files) this is the same
    ledger a manifest-based table format serves from memory.
    """
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in _part_files(path))


def _has_parquet_magic(path: str) -> bool:
    if not os.path.isfile(path):
        return False
    with open(path, "rb") as f:
        return f.read(4) == b"PAR1"


def _footer_schema(path: str) -> StructType:
    """The Spark schema of a parquet table, read from the footer of its
    first part file (sorted) with pyarrow — the file Spark's own
    non-merging schema inference reads, without the one-task Spark job
    it runs to read it. ``prefer_timestamp_ntz`` maps Arrow's naive
    timestamps to ``TIMESTAMP_NTZ``, as Spark reads them."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(
        pq.read_schema(_part_files(path)[0]), prefer_timestamp_ntz=True
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A lazy parquet scan of fixture table ``name``, read with the
    schema from its footer (``_footer_schema``), so building the frame
    submits no Spark job. The footer is read again on every call: one
    KB-scale read per load, O(1) in table size, and nothing is kept
    that a rewritten file could leave stale. The file source still
    marks every column nullable, as an inferring read does.

    events.ts is TIMESTAMP(NANOS) parquet (FIXTURES.md); Spark 4.1 reads
    it natively as µs-truncated TIMESTAMP_NTZ, DuckDB's naive µs view of
    the same file."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    return spark.read.schema(_footer_schema(path)).parquet(path)


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local report frame over ONE partition.

    ``createDataFrame(list)`` parallelizes over defaultParallelism — a
    handful of report rows becomes 32 local slices, and every action on
    the frame (the bench's noop sink included) dispatches 32 Python
    partition evaluations (~0.15 s of pure runner overhead, measured).
    Same pickle path, schema, and values with one slice."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def localize(df: DataFrame) -> DataFrame:
    """Collect a SMALL result and re-serve it as a one-partition
    ``local_rows`` frame with ``df``'s own schema — the gather a query
    runs before it removes the scratch files ``df`` reads."""
    return local_rows(df.sparkSession, df.collect(), df.schema)


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh temp directory for the ``with`` block, removed when the
    block exits, normally or by an exception."""
    d = tempfile.mkdtemp(prefix=prefix)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def session_dir(prefix: str) -> str:
    """A temp directory that lives until interpreter exit: the home of a
    result the returned DataFrame still reads lazily, so the data path
    stays distributed end to end (no driver collect of unbounded-key
    data — SURVEY §4.2's gather rule)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def materialize(df: DataFrame, prefix: str) -> DataFrame:
    """Write ``df`` to a fresh ``session_dir`` and return ONE lazy
    parquet read of it: the executors do the write, nothing unbounded
    touches the driver, and the returned plan is a FileScan. The read
    takes ``df``'s own schema, so it submits no schema-inference job."""
    out = session_dir(prefix)
    df.write.mode("overwrite").parquet(out)
    return df.sparkSession.read.schema(df.schema).parquet(out)


# owner -> the frame its last call pinned (one cache entry per owner).
_PINNED: dict[str, DataFrame] = {}


def pin(owner: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` as ``owner``'s cached frame and release the frame
    the owner pinned before — the returned plan still reads ``df``, so
    it cannot be unpersisted before the caller's action, and this keeps
    at most one such frame per owner alive.

    When the owner's frame has the same plan, ``df`` is returned as it
    is and nothing is persisted or released: Spark's CacheManager holds
    one entry per plan, so ``df`` already reads that entry, a second
    ``persist`` would only log "Asked to cache already cached data",
    and unpersisting the old frame would drop the entry ``df`` reads."""
    prev = _PINNED.get(owner)
    if prev is not None:
        try:
            if prev.sameSemantics(df):
                return df
            prev.unpersist(blocking=False)
        except Py4JError:  # a frame from a stopped session
            pass
    _PINNED[owner] = df.persist()
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register fixture tables as temp views (for spark.sql queries).

    Pass ``tables=`` to register only what the query reads — loading all ten
    tables for a one-table SQL query couples it to every fixture's health
    (and at cluster scale, to every table's metadata round-trip).
    """
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
