"""Custom batch SINK on Spark 4's Python DataSource API — the writer
third of the custom-source surface (Q139 batch read, Q141 stream read,
here ``DataSource.writer``), and the idiomatic home for the reference's
REPORT SINK: LocalApp gathers the job's result lines and wraps them
into an HTML report (``LocalApp.java:312-343``; the gather itself is
``Manager.java:287-312``). Here the gather is the writer protocol —
each executor task streams ITS partition's rows into a part file and
returns a ``WriterCommitMessage`` (filename + row count + a content
checksum); the DRIVER's ``commit()`` runs exactly once over the
collected messages and publishes the manifest + the wrapped HTML
report, which is what makes the sink exactly-once: a retried task's
message is simply never committed (Spark discards messages from failed
attempts), and an aborted job leaves no manifest.

Scale notes (100 TB): the per-task write is append-free and
independent (no coordination until commit), the commit is O(tasks)
driver work over tiny messages — the same two-phase shape as Spark's
own FileFormatWriter. The report wrap mirrors the reference line-for-
line semantics: one ``<p>`` per result line.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from project_map_reduce_spark.sources.pyds import register_once

REPORT_NAME = "pmrs_report"


@dataclass
class _PartCommit(WriterCommitMessage):
    filename: str
    n_rows: int
    line_xor: int  # order-independent content checksum of the part


def _line_hash(line: str) -> int:
    """SIGNED int64 of the first 8 md5 bytes (big-endian). Signed so
    the ledger xor maps 1:1 onto Spark's BIGINT ``bit_xor`` aggregate —
    the readback side of the sink verifies manifests DISTRIBUTED (a
    text scan + bit_xor per part), never a driver-side per-line loop
    (the r11 sf10 probe measured that loop dominating the whole query).
    xor over two's-complement int64 is bit-identical to the unsigned
    form, so the checksum strength is unchanged."""
    import hashlib

    return int.from_bytes(
        hashlib.md5(line.encode("utf-8")).digest()[:8], "big", signed=True
    )


# Spark-side twin of ``_line_hash`` over a text column named `value`:
# conv() parses the 16-hex-digit md5 prefix as UNSIGNED 64-bit but
# returns a STRING — it must be cast to DECIMAL(20,0) BEFORE any
# arithmetic (a bare subtraction would coerce through double and lose
# low bits); the CASE then reinterprets bit-identically as signed
# int64. Equivalence with the Python _line_hash is test-pinned.
_UNSIGNED64 = (
    "CAST(conv(substring(md5(value), 1, 16), 16, 10) AS DECIMAL(20,0))"
)
LINE_HASH_SQL = (
    f"CAST((CASE WHEN {_UNSIGNED64} >= 9223372036854775808"
    f" THEN {_UNSIGNED64} - 18446744073709551616"
    f" ELSE {_UNSIGNED64} END) AS BIGINT)"
)


def _render_cell(v) -> str:
    """ONE cell-rendering contract for every writer lane: None -> '',
    binary normalized through bytes() (the row lane receives bytearray
    from Spark's Row converter while Arrow's to_pylist yields bytes —
    str() of the two differs), everything else str(). All three
    writers MUST call this so the lanes' artifacts stay byte-equal."""
    if v is None:
        return ""
    if isinstance(v, (bytes, bytearray)):
        return str(bytes(v))
    return str(v)


class _ReportWriter(DataSourceWriter):
    """Tab-separated result lines, one part file per task; driver
    commit publishes ``_MANIFEST`` (the exactly-once marker) and
    ``report.html`` (the reference's wrap, LocalApp.java:312-335)."""

    def __init__(self, options, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError(f"{REPORT_NAME}: the 'path' option is required")
        self._overwrite = overwrite

    def write(self, iterator):
        # Executor-side: stream the partition once; cells are rendered
        # with repr-stable formatting (floats already rounded upstream).
        fname = f"part-{uuid.uuid4().hex}.tsv"
        n = 0
        xor = 0
        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f".{fname}.inprogress")
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                line = "\t".join(_render_cell(v) for v in row)
                f.write(line + "\n")
                n += 1
                xor ^= _line_hash(line)
        os.replace(tmp, os.path.join(self._path, fname))
        return _PartCommit(filename=fname, n_rows=n, line_xor=xor)

    def commit(self, messages):
        total = sum(m.n_rows for m in messages)
        xor = 0
        for m in messages:
            xor ^= m.line_xor
        # The manifest IS the commit: readers treat its absence as an
        # uncommitted (aborted/in-flight) sink, mirroring _SUCCESS.
        lines = []
        for m in sorted(messages, key=lambda m: m.filename):
            lines.append(f"{m.filename}\t{m.n_rows}\t{m.line_xor}")
        body = "\n".join(lines)
        with open(os.path.join(self._path, "_MANIFEST"), "w") as f:
            f.write(f"total\t{total}\txor\t{xor}\n{body}\n")
        # The reference's report wrap: one <p> per result line
        # (LocalApp.java:312-335), driver-side over the tiny result set.
        parts = [m.filename for m in messages]
        with open(os.path.join(self._path, "report.html"), "w") as f:
            f.write("<html><body>\n")
            for p in sorted(parts):
                with open(os.path.join(self._path, p), encoding="utf-8") as pf:
                    for line in pf:
                        f.write(f"<p>{line.rstrip()}</p>\n")
            f.write("</body></html>\n")

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(os.path.join(self._path, m.filename))
            except OSError:
                pass


class ReportDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return REPORT_NAME

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _ReportWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        # Arrow is the DEFAULT lane since round 11 (VERDICT r10 item 3:
        # the row-iterator loop measured 22x at sf10 vs the Arrow
        # lane's ~6x — BASELINE.md r10d probe); ``arrow=false`` keeps
        # the per-row lane reachable, and the byte-equivalence of the
        # two lanes' artifacts is test-pinned.
        if str(self.options.get("arrow", "true")).lower() == "false":
            return _ReportStreamWriter(self.options)
        return _ReportStreamArrowWriter(self.options)


def register_report_sink(spark) -> None:
    register_once(spark, ReportDataSource)


class _ReportStreamWriter(DataSourceStreamWriter):
    """Streaming twin of ``_ReportWriter`` — the fourth quadrant of the
    Python DataSource API (batch read Q139 / stream read Q141 / batch
    write Q161 / stream write here). Each micro-batch epoch commits its
    own ``_MANIFEST-<epoch>`` over that epoch's part files; Spark
    replays an epoch after a crash with the SAME batchId, and the
    epoch-scoped manifest makes the replay idempotent at read time
    (readers take each committed epoch once) — the same per-batchId
    discipline as sources/sinks.py::write_stream_idempotent, expressed
    through the writer protocol instead of foreachBatch."""

    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError(f"{REPORT_NAME}: the 'path' option is required")

    def write(self, iterator):
        fname = f"part-{uuid.uuid4().hex}.tsv"
        n = 0
        xor = 0
        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f".{fname}.inprogress")
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                line = "\t".join(_render_cell(v) for v in row)
                f.write(line + "\n")
                n += 1
                xor ^= _line_hash(line)
        os.replace(tmp, os.path.join(self._path, fname))
        return _PartCommit(filename=fname, n_rows=n, line_xor=xor)

    def commit(self, messages, batchId: int):
        total = sum(m.n_rows for m in messages)
        xor = 0
        body = []
        for m in sorted(messages, key=lambda m: m.filename):
            xor ^= m.line_xor
            body.append(f"{m.filename}\t{m.n_rows}\t{m.line_xor}")
        with open(os.path.join(self._path, f"_MANIFEST-{batchId}"), "w") as f:
            f.write(f"total\t{total}\txor\t{xor}\n" + "\n".join(body) + "\n")

    def abort(self, messages, batchId: int):
        for m in messages:
            try:
                os.remove(os.path.join(self._path, m.filename))
            except OSError:
                pass


class _ReportStreamArrowWriter(DataSourceStreamArrowWriter):
    """Arrow-batch variant of ``_ReportStreamWriter`` — the measured
    100 TB lane (the DEFAULT since round 11; option ``arrow=false``
    keeps the row lane reachable): rows arrive as PyArrow
    ``RecordBatch``es (zero Row materialization, one Arrow transfer
    per batch) and cells render from the Arrow arrays via
    ``to_pylist()``, which preserves None for nulls and Python int for
    int64 — NOT via ``to_pandas()``, whose NaN-for-null and
    float64-promotion of nullable int64 columns would render 'nan' and
    '5.0' where the row lane writes '' and '5' (ADVICE r10). The
    rendering expression is literally the row lane's
    (``'' if v is None else str(v)``), so the COMMIT PROTOCOL and
    on-disk artifacts are byte-compatible by construction (same line
    format, same per-part xor, same manifest) — readers cannot tell
    which lane produced a sink; equivalence (including null-bearing
    input) is test-pinned and the sf10 A/B lives in BASELINE.md."""

    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError(f"{REPORT_NAME}: the 'path' option is required")

    def write(self, iterator):
        fname = f"part-{uuid.uuid4().hex}.tsv"
        n = 0
        xor = 0
        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f".{fname}.inprogress")
        with open(tmp, "w", encoding="utf-8") as f:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                cols = [arr.to_pylist() for arr in batch.columns]
                for vals in zip(*cols):
                    line = "\t".join(_render_cell(v) for v in vals)
                    f.write(line + "\n")
                    xor ^= _line_hash(line)
                n += batch.num_rows
        os.replace(tmp, os.path.join(self._path, fname))
        return _PartCommit(filename=fname, n_rows=n, line_xor=xor)

    # commit/abort: identical per-epoch manifest discipline
    commit = _ReportStreamWriter.commit
    abort = _ReportStreamWriter.abort
