"""Keyed operation dispatch with an in-band error channel.

The idiomatic restatement of the reference's worker loop
(Workers.java:123-223): each record carries an ``operation`` key that
selects a per-record transform; failures become *data* (status/error
columns), never exceptions — the reference encodes them as
``"Error: ..."`` strings in the third result field
(Workers.java:186-221), we type them properly
(SURVEY.md §1.1 "Result record").

Result-struct convention used by every pipeline op (FIXTURES.md):
    operation string, input_url string, output_url string,
    status string ('ok'|'error'), error string (null on success)

Everything here is a ``when/otherwise`` chain — pure Catalyst
expressions inside whole-stage codegen, no Python in the hot path. A
transform that genuinely needs Python (e.g. real PDF decode, ref
Workers.java:131-184) runs as an Arrow-batched ``mapInPandas`` with
the same status/error columns; see ``pdf_to_text``, ``pdf_to_html`` and
``pdf_to_image`` in operators/multimodal.py.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RESULT_COLUMNS = ("operation", "input_url", "output_url", "status", "error")


def dispatch(
    df: DataFrame,
    *,
    op_col: str | Column,
    input_url: Column,
    handlers: Mapping[str, Column],
    guard: Column | None = None,
    guard_error: Column | str = "Error: File is Encrypted",
) -> DataFrame:
    """Apply per-record handlers selected by ``op_col``.

    ``handlers`` maps operation name -> output-url expression (evaluated
    only for matching rows). Rows whose operation has no handler get the
    reference's unsupported-operation error (Workers.java:186-187); rows
    matching ``guard`` get ``guard_error`` (the encrypted-PDF guard,
    Workers.java:130,190).
    """
    op = F.col(op_col) if isinstance(op_col, str) else op_col
    gerr = F.lit(guard_error) if isinstance(guard_error, str) else guard_error

    supported = op.isin(*handlers.keys())
    unsupported_err = F.concat(F.lit("Error: Unsupported operation: "), op)

    error = F.when(~supported, unsupported_err)
    if guard is not None:
        error = error.when(guard, gerr)
    error = error.otherwise(F.lit(None).cast("string"))

    out_url = F.lit(None).cast("string")
    for name, expr in handlers.items():
        out_url = F.when(error.isNull() & (op == name), expr).otherwise(out_url)

    return df.select(
        op.alias("operation"),
        input_url.alias("input_url"),
        out_url.alias("output_url"),
        F.when(error.isNull(), F.lit("ok")).otherwise(F.lit("error")).alias("status"),
        error.alias("error"),
        *[c for c in df.columns if c not in RESULT_COLUMNS],
    )


def job_summary(results: DataFrame) -> DataFrame:
    """Job-scoped gather (ref A8/A10, Manager.java:287-312): counts by
    (operation, status). Stays distributed — partial+final hash agg —
    instead of the reference's driver-side one-message-at-a-time concat
    loop with its ~4 results/s ceiling (BASELINE.md)."""
    return results.groupBy("operation", "status").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count("error").alias("n_errors"),
    )
