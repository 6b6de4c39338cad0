"""The reference's three PDF worker operations as column operators.

The reference's workers fetch a PDF from a URL and run one of
``ToText``, ``ToImage`` or ``ToHTML`` on it (Workers.java:131-184).
Each is a shuffle-free Arrow-batched ``mapInPandas`` over a
``(path, content)`` frame, stdlib only:

- ``pdf_to_text``: the extractor in ``operators/pdftext.py`` (stream
  scan + zlib inflate + text-operator walk);
- ``pdf_to_html``: the same extraction, escaped into a page skeleton;
- ``pdf_to_image``: the extracted text rendered to a PNG page by
  ``operators/rasterize.py``.

Per-record failures are status='error' rows, never task failures (the
in-band error channel, ref A7). ``sources/readers.py`` supplies the
rest of the reference's dataflow: task lines, the URL fetch and the
report sink.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from project_map_reduce_spark.operators.pdftext import extract_pdf_text

PDF_TEXT_SCHEMA = (
    "path string, n_chars bigint, text string, status string, error string"
)


def pdf_to_text(df: DataFrame) -> DataFrame:
    """ToText (ref Workers.java:131-152), for real: extract shown text
    from each PDF payload with the stdlib-only extractor. Per-record
    failures (non-PDF magic, malformed streams) become status='error'
    rows — the in-band error channel (ref A7), never a task failure.
    Shuffle-free Arrow-batched map; output rows carry text instead of
    bytes so downstream text operators (dedup, lang-id, quality) chain
    directly."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("path", "n_chars", "text", "status", "error")}
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                out["path"].append(path)
                try:
                    text = extract_pdf_text(raw)
                    out["n_chars"].append(len(text))
                    out["text"].append(text)
                    out["status"].append("ok")
                    out["error"].append(None)
                except Exception as ex:  # noqa: BLE001 — error channel is data
                    out["n_chars"].append(None)
                    out["text"].append(None)
                    out["status"].append("error")
                    out["error"].append(f"Error: {ex}")
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(batches, schema=PDF_TEXT_SCHEMA)


PDF_HTML_SCHEMA = "path string, html string, status string, error string"


def pdf_to_html(df: DataFrame) -> DataFrame:
    """ToHTML (ref Workers.java:162-184), for real: the reference runs
    pdfbox ``PDFText2HTML`` — extracted text wrapped in an HTML page —
    and its client report renders one ``<line><br>`` per record
    (LocalApp.java:312-333). Same here: the stdlib PDF text extraction,
    HTML-escaped, one ``<br>``-joined paragraph per source line, in a
    minimal page skeleton. Shuffle-free Arrow-batched map, in-band
    error rows, like its siblings."""
    import html as _html

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("path", "html", "status", "error")}
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                out["path"].append(path)
                try:
                    text = extract_pdf_text(raw)
                    body = "<br>\n".join(
                        _html.escape(line) for line in text.splitlines()
                    )
                    out["html"].append(
                        "<!DOCTYPE html>\n<html><head><meta charset="
                        '"utf-8"></head>\n<body>\n' + body + "\n</body></html>"
                    )
                    out["status"].append("ok")
                    out["error"].append(None)
                except Exception as ex:  # noqa: BLE001 — error channel is data
                    out["html"].append(None)
                    out["status"].append("error")
                    out["error"].append(f"Error: {ex}")
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(batches, schema=PDF_HTML_SCHEMA)


PDF_IMAGE_SCHEMA = (
    "path string, width int, height int, png binary, status string, error string"
)


def pdf_to_image(df: DataFrame) -> DataFrame:
    """ToImage (ref Workers.java:150-160), for real: the reference
    renders page 0 of each PDF to an image file (pdfbox PDFToImage);
    here each PDF's extracted text is rendered through the stdlib-only
    rasterizer (operators/rasterize.py — 5×7 bitmap font onto a
    grayscale page, emitted as a spec-valid PNG via zlib/struct). No
    codec library involved, yet the output decodes in any PNG reader —
    closing the last of the reference's three worker operations.

    Same 100 TB shape as its siblings: shuffle-free Arrow-batched map,
    per-record failures as status='error' rows (in-band, ref A7). The
    render clips to one page (max 100×60 cells), mirroring the
    reference's page-0-only semantics, so output size is bounded
    (~600×500 px) regardless of document length."""
    from project_map_reduce_spark.operators.rasterize import (
        encode_png_gray,
        render_text_bitmap,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in (
                "path", "width", "height", "png", "status", "error",
            )}
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content) if content is not None else b""
                out["path"].append(path)
                try:
                    text = extract_pdf_text(raw)
                    w, h, pixels = render_text_bitmap(text)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["png"].append(encode_png_gray(w, h, pixels))
                    out["status"].append("ok")
                    out["error"].append(None)
                except Exception as ex:  # noqa: BLE001 — error channel is data
                    out["width"].append(None)
                    out["height"].append(None)
                    out["png"].append(None)
                    out["status"].append("error")
                    out["error"].append(f"Error: {ex}")
            yield pd.DataFrame(out)

    return df.select("path", "content").mapInPandas(batches, schema=PDF_IMAGE_SCHEMA)
