"""Fixture-table access.

The driver pre-generates ten parquet tables per scale factor
(TESTDATA.md / FIXTURES.md). All queries load through here so that the
scan layer is one place: a parquet relation with Catalyst predicate
pushdown and column pruning. At cluster scale the same loader would
point at a partitioned table root; nothing else in the engine changes.

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


def footer_rows(path: str) -> int:
    """Exact row count from parquet FOOTERS — zero Spark jobs (the
    guide-§1.2 fewer-passes discipline for queries that only need N).

    Handles both fixture shapes: a single parquet file, or a directory
    of part files (the layout any real writer produces). The directory
    walk is O(files) driver-side metadata reads — fine for footers even
    at 100 TB table sizes (thousands of files, one ~KB footer each),
    and the same ledger a manifest-based table format serves from
    memory.
    """
    import glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = [
            f
            for f in glob.glob(os.path.join(path, "*.parquet"))
            if os.path.isfile(f) and not os.path.basename(f).startswith("_")
        ]
        # ``part-*`` also matches extensionless part files, so a match
        # counts only if it is a regular file that opens with the parquet
        # magic: a subdirectory or a sidecar named part-* is skipped.
        parts += [
            f
            for f in glob.glob(os.path.join(path, "part-*"))
            if not f.endswith(".parquet") and _has_parquet_magic(f)
        ]
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    return pq.ParquetFile(path).metadata.num_rows


def _has_parquet_magic(path: str) -> bool:
    if not os.path.isfile(path):
        return False
    with open(path, "rb") as f:
        return f.read(4) == b"PAR1"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    # events.ts is TIMESTAMP(NANOS) parquet (FIXTURES.md); Spark 4.1 reads
    # it natively as µs-truncated TIMESTAMP_NTZ, DuckDB's naive µs view
    # of the same file.
    return spark.read.parquet(table_path(sf_dir, name))


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
    touches the driver, and the returned plan is a FileScan."""
    out = session_dir(prefix)
    df.write.mode("overwrite").parquet(out)
    return df.sparkSession.read.parquet(out)


# owner -> the frame its last call pinned (one cache entry per owner).
_PINNED: dict[str, DataFrame] = {}


def pin(owner: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` as ``owner``'s cached frame and release the frame
    the owner pinned before — the returned plan still reads ``df``, so
    it cannot be unpersisted before the caller's action, and this keeps
    at most one such frame per owner alive.

    The previous frame is kept when it has the same plan: Spark's
    CacheManager holds one entry per plan, so a rebuild of the same
    query shares it, and unpersisting the old frame would drop the cache
    the new one just asked for."""
    df = df.persist()
    prev = _PINNED.get(owner)
    _PINNED[owner] = df
    if prev is not None:
        try:
            if not prev.sameSemantics(df):
                prev.unpersist(blocking=False)
        except Py4JError:  # a frame from a stopped session
            pass
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
