"""Python DataSource API source (Q139, sources/pyds.py): url fetch
mode, partition planning math, and Arrow-batch row fidelity."""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq
import pytest

from project_map_reduce_spark.sources.pyds import (
    DocPayloadDataSource,
    _DocPayloadReader,
)
from project_map_reduce_spark.tables import table_path


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(DocPayloadDataSource)
    return spark


def test_path_mode_matches_recompute(registered, sf_dir):
    """Row-range mode: every (doc_id, byte_len, md5) equals a direct
    pyarrow recompute — the full fetch→decode→derive path is exact."""
    path = table_path(sf_dir, "documents")
    got = {
        r.doc_id: (r.byte_len, r.payload_md5)
        for r in registered.read.format("pmrs_docpayload")
        .option("path", path)
        .option("npartitions", 4)
        .load()
        .collect()
    }
    tbl = pq.read_table(path, columns=["doc_id", "text"])
    want = {
        i: (len(t.encode()), hashlib.md5(t.encode()).hexdigest())
        for i, t in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    }
    assert got == want


def test_url_mode_fetch_then_decode(registered, sf_dir):
    """url mode is the reference's blob shape (Workers.java:127-129):
    one partition per object, fetched over urllib (file:// hermetic),
    decoded from the in-memory buffer — same rows as path mode."""
    path = table_path(sf_dir, "documents")
    df = (
        registered.read.format("pmrs_docpayload")
        .option("url", f"file://{path}")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1  # the blob is the unit
    via_url = sorted(map(tuple, df.collect()))
    via_path = sorted(
        map(
            tuple,
            registered.read.format("pmrs_docpayload")
            .option("path", path)
            .load()
            .collect(),
        )
    )
    assert via_url == via_path


def test_partition_planning_math(sf_dir):
    """partitions() covers [0, n) exactly: contiguous, non-overlapping,
    never more ranges than rows, and footer-only (no data read)."""
    path = table_path(sf_dir, "documents")
    n = pq.ParquetFile(path).metadata.num_rows
    for k in (1, 3, 8, n + 17):
        reader = _DocPayloadReader({"path": path, "npartitions": str(k)})
        parts = reader.partitions()
        assert len(parts) == min(k, n)
        assert parts[0].start == 0 and parts[-1].end == n
        for a, b in zip(parts, parts[1:]):
            assert a.end == b.start and a.start < a.end


def test_task_count_is_planned_partitions(registered, sf_dir):
    """The plan fans out to exactly npartitions tasks — the VERDICT r9
    item 5 partition-count assertion, from the DataFrame side."""
    df = (
        registered.read.format("pmrs_docpayload")
        .option("path", table_path(sf_dir, "documents"))
        .option("npartitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5


def test_missing_option_is_loud():
    with pytest.raises(ValueError, match="path.*or.*url"):
        _DocPayloadReader({})


def test_stream_reader_offset_and_replay_math(sf_dir):
    """DataSourceStreamReader contract: latestOffset drains the corpus
    one chunk per call then pins at n; partitions(start, end) is the
    exact offset range; replaying a committed range re-derives
    bit-identical rows (the exactly-once premise of Q141)."""
    from project_map_reduce_spark.sources.pyds import (
        _derive_batch,
        _DocPayloadStreamReader,
    )

    path = table_path(sf_dir, "documents")
    n = pq.ParquetFile(path).metadata.num_rows
    chunk = max(1, n // 3)
    r = _DocPayloadStreamReader({"path": path, "chunk_rows": str(chunk)})
    assert r.initialOffset() == {"row": 0}
    seen, prev = [], 0
    for _ in range(10):
        off = r.latestOffset()["row"]
        if off == prev:
            break
        seen.append((prev, off))
        prev = off
    assert prev == n and seen[0][0] == 0
    assert all(b - a <= chunk for a, b in seen)
    (part,) = r.partitions({"row": seen[1][0]}, {"row": seen[1][1]})
    assert (part.start, part.end) == seen[1]
    b1 = next(iter(r.read(part)))
    b2 = _derive_batch(path, part.start, part.end, chunk)
    assert b1.equals(b2)  # replay determinism
    assert list(r.read(_RangePartitionLike(5, 5))) == []  # empty range


class _RangePartitionLike:
    def __init__(self, start, end):
        self.start = start
        self.end = end


def test_stream_schema_has_chunk_column():
    from project_map_reduce_spark.sources.pyds import (
        DocPayloadDataSource,
        PAYLOAD_SCHEMA,
        STREAM_SCHEMA,
    )

    assert DocPayloadDataSource({"path": "x", "chunk_rows": "10"}).schema() == STREAM_SCHEMA
    assert DocPayloadDataSource({"path": "x"}).schema() == PAYLOAD_SCHEMA
    assert STREAM_SCHEMA.startswith(PAYLOAD_SCHEMA)


def test_read_row_range_spans_row_groups(tmp_path):
    """_read_row_range must stitch ranges that straddle row-group
    boundaries and read ONLY overlapping groups (the sf10 14.5x lesson:
    whole-file-then-slice is 8x read amplification at scale)."""
    import pyarrow as pa

    from project_map_reduce_spark.sources.pyds import _read_row_range

    path = str(tmp_path / "multi.parquet")
    n = 100
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array([f"t{i}" for i in range(n)]),
            "extra": pa.array([i * 2 for i in range(n)], pa.int64()),
        }
    )
    pq.write_table(tbl, path, row_group_size=7)  # 15 groups
    for lo, hi in ((0, 100), (0, 7), (6, 8), (13, 15), (95, 100), (42, 42)):
        got = _read_row_range(path, lo, hi)
        assert got.column("doc_id").to_pylist() == list(range(lo, hi))
        assert got.column_names == ["doc_id", "text"] or (lo == hi)


def test_sources_register_once_per_session(spark, sf_dir, monkeypatch):
    """q_pyds_sink built twice on one session registers its sink at most
    once: the second build finds it registered and registers nothing, so
    no 'replaced a previously registered data source' warning is logged."""
    from pyspark.sql.datasource import DataSourceRegistration

    from project_map_reduce_spark.registry import entries

    calls = []
    register = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration,
        "register",
        lambda self, source: calls.append(source.name()) or register(self, source),
    )

    def exists(session):
        manager = session._jsparkSession.sessionState().dataSourceManager()
        return manager.dataSourceExists("pmrs_report")

    build = entries()["q_pyds_sink"].fn
    first = build(spark, sf_dir).collect()
    assert exists(spark) and calls in ([], ["pmrs_report"])
    before = list(calls)
    assert sorted(build(spark, sf_dir).collect()) == sorted(first)
    assert calls == before and exists(spark)
