"""Typed source readers (SURVEY.md §2 B.1).

The reference's only source is a line-oriented task file on S3 —
``"<operation>\\t<pdfURL>"`` per line (Manager.java:269-284,
Workers.java:230-239). ``read_task_lines`` parses it into two columns
that Catalyst fuses into the scan, ``fetch_url_bytes`` pulls each
row's payload on the executors, and ``write_report`` is the
reference's HTML summary sink. Every other format is read and written
with Spark's own ``spark.read`` / ``df.write``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Schema of the reference's task line after parsing (ref A3).
TASK_SCHEMA = T.StructType(
    [
        T.StructField("operation", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)


def read_task_lines(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-format task file: one ``operation\\turl`` line per
    record (Workers.java:230-239). Malformed lines (no tab) surface with
    a null url rather than being dropped — in-band error discipline."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", 2)
    return lines.select(
        parts.getItem(0).alias("operation"),
        F.when(F.size(parts) > 1, parts.getItem(1)).alias("url"),
    )


FETCHED_SCHEMA = (
    "url string, content binary, byte_len bigint, status string, error string"
)


def fetch_url_bytes(
    df: DataFrame,
    url_col: str = "url",
    *,
    timeout_sec: float = 10.0,
    max_bytes: int = 64 << 20,
) -> DataFrame:
    """Fetch each row's payload from its URL column — the reference's
    per-record HTTP pull (Workers.java:127-129), as a distributed map.

    Arrow-batched ``mapInPandas``: every executor fetches its own
    partition's URLs (the driver never sees a payload), failures are
    in-band status='error' rows (ref A7 — a dead link is data, not a
    task failure), and payloads above ``max_bytes`` are rejected rather
    than buffered (bounded executor memory; at 100 TB one unbounded
    response would OOM a slot). Supports any scheme ``urllib`` handles
    (http/https/file — tests use file:// to stay hermetic)."""

    def batches(it):
        from urllib.request import urlopen

        for pdf in it:
            out = {k: [] for k in ("url", "content", "byte_len", "status", "error")}
            for url in pdf["url"]:
                out["url"].append(url)
                try:
                    if url is None:
                        raise ValueError("null url")
                    with urlopen(url, timeout=timeout_sec) as resp:
                        raw = resp.read(max_bytes + 1)
                    if len(raw) > max_bytes:
                        raise ValueError(f"payload exceeds max_bytes={max_bytes}")
                    out["content"].append(raw)
                    out["byte_len"].append(len(raw))
                    out["status"].append("ok")
                    out["error"].append(None)
                except Exception as ex:  # noqa: BLE001 — error channel is data
                    out["content"].append(None)
                    out["byte_len"].append(None)
                    out["status"].append("error")
                    out["error"].append(f"{type(ex).__name__}: {ex}")
            import pandas as pd

            yield pd.DataFrame(out)

    return df.select(F.col(url_col).alias("url")).mapInPandas(
        batches, schema=FETCHED_SCHEMA
    )


def write_report(df: DataFrame, path: str, *, title: str = "results") -> None:
    """Report sink (ref A12, LocalApp.java:302-343): the *data* write
    stays distributed (parquet); only the already-tiny summary is
    rendered to one HTML file. Never call on an unaggregated frame.
    Title, column names and cell values are HTML-escaped: a fetch
    error's text (``<urlopen error …>``) is data, not markup."""
    from html import escape

    df.write.mode("overwrite").parquet(path + ".parquet")
    rows = df.limit(10_000).collect()  # guarded: summaries only
    cells = "\n".join(
        "<tr>" + "".join(f"<td>{escape(str(v))}</td>" for v in row) + "</tr>"
        for row in rows
    )
    header = (
        "<tr>" + "".join(f"<th>{escape(c)}</th>" for c in df.columns) + "</tr>"
    )
    title = escape(title)
    html = (
        f"<html><head><title>{title}</title></head><body>"
        f"<h1>{title}</h1><table>{header}{cells}</table></body></html>"
    )
    with open(path + ".html", "w", encoding="utf-8") as f:
        f.write(html)
