"""The reference's PDF worker path (Workers.java:131-184): binaryFile
source → ToText / ToHTML / ToImage, plus the task-line source, the
per-row URL fetch and the report sink. The Spark plumbing — schema,
Arrow batching, error channel — and the stdlib rasterizer and PNG codec
are under test. Fixture payloads are built with stdlib only."""

from __future__ import annotations

import html
import os
import shutil

import pytest

from project_map_reduce_spark.operators import codecs, multimodal
from project_map_reduce_spark.operators.rasterize import encode_png_gray
from project_map_reduce_spark.sources import readers

ART = os.path.join(os.path.dirname(__file__), ".artifacts", "binary")

_PNG_W, _PNG_H = 20, 12
_PNG_PIXELS = bytes(
    (x * 13 + y * 7) % 256 for y in range(_PNG_H) for x in range(_PNG_W)
)


def _payloads() -> dict[str, bytes]:
    return {
        "a.png": encode_png_gray(_PNG_W, _PNG_H, _PNG_PIXELS),
        "c.pdf": b"%PDF-1.4 fake body",
    }


@pytest.fixture(scope="module")
def binary_dir():
    shutil.rmtree(ART, ignore_errors=True)
    os.makedirs(ART, exist_ok=True)
    for name, data in _payloads().items():
        with open(os.path.join(ART, name), "wb") as f:
            f.write(data)
    return ART


def test_binary_source_schema(spark, binary_dir):
    df = spark.read.format("binaryFile").load(binary_dir)
    assert {"path", "content", "length"} <= set(df.columns)
    assert dict(df.dtypes)["content"] == "binary"
    assert df.count() == len(_payloads())


def _make_pdf(compress: bool) -> bytes:
    """Minimal but structurally real PDF: one content stream with Tj,
    a TJ array with kerning offsets, and an escaped literal."""
    import zlib

    content = (
        b"BT /F1 12 Tf (Hello) Tj [(Wor) -250 (ld) 120 (!)] TJ "
        b"(line\\(two\\)) ' <48692100> Tj ET"
    )
    if compress:
        content = zlib.compress(content)
    return (
        b"%PDF-1.4\n1 0 obj << /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_pdf_extract_text_plain_and_flate():
    from project_map_reduce_spark.operators.pdftext import extract_pdf_text

    expected = "Hello Wor ld ! line(two) Hi!\x00"
    assert extract_pdf_text(_make_pdf(compress=False)) == expected
    # FlateDecode streams are genuinely inflated (zlib is stdlib).
    assert extract_pdf_text(_make_pdf(compress=True)) == expected
    with pytest.raises(ValueError):
        extract_pdf_text(b"not a pdf")


def test_pdf_literal_escapes():
    """PDF escape semantics: octal is 0-7 only (\\101='A'); \\8 and \\9
    fall back to the bare digit ("ignore the backslash"); octal stops
    at 3 digits."""
    from project_map_reduce_spark.operators.pdftext import _decode_literal

    assert _decode_literal(rb"(\101)") == b"A"
    assert _decode_literal(rb"(\8)") == b"8"
    assert _decode_literal(rb"(\9\8)") == b"98"
    assert _decode_literal(rb"(\0531)") == b"+1"  # 3-digit octal then '1'
    assert _decode_literal(rb"(a\tb)") == b"a\tb"
    # backslash-EOL = line continuation: produces nothing (CRLF = one EOL)
    assert _decode_literal(b"(long \\\n text)") == b"long  text"
    assert _decode_literal(b"(a\\\r\nb)") == b"ab"
    assert _decode_literal(b"(a\\\rb)") == b"ab"


def test_pdf_to_text_operator(spark, binary_dir):
    """ToText analog (ref Workers.java:131-152): real extraction for PDF
    payloads, in-band error rows for everything else."""
    pdf_path = os.path.join(ART, "real.pdf")
    with open(pdf_path, "wb") as f:
        f.write(_make_pdf(compress=True))
    df = spark.read.format("binaryFile").load(binary_dir)
    out = {os.path.basename(r.path): r for r in multimodal.pdf_to_text(df).collect()}
    assert out["real.pdf"].status == "ok"
    assert "Hello" in out["real.pdf"].text
    assert out["real.pdf"].n_chars == len(out["real.pdf"].text)
    # c.pdf has the magic but no stream — ok with empty text
    assert out["c.pdf"].status == "ok"
    assert out["c.pdf"].text == ""
    # non-PDF payloads surface as error rows, never task failures
    assert out["a.png"].status == "error"
    assert "not a PDF" in out["a.png"].error
    os.remove(pdf_path)


def test_pdf_to_html_operator(spark, binary_dir):
    """ToHTML analog (ref Workers.java:162-184 / PDFText2HTML): the
    extracted text lands HTML-escaped inside a page skeleton; non-PDF
    payloads are in-band error rows."""
    pdf_path = os.path.join(ART, "real.pdf")
    with open(pdf_path, "wb") as f:
        f.write(_make_pdf(compress=True))
    df = spark.read.format("binaryFile").load(binary_dir)
    out = {os.path.basename(r.path): r for r in multimodal.pdf_to_html(df).collect()}
    row = out["real.pdf"]
    assert row.status == "ok"
    assert row.html.startswith("<!DOCTYPE html>")
    assert "Hello" in row.html and "</body></html>" in row.html
    # the literal "(two)" text must arrive escaped-safe (no raw < or >)
    assert "<script" not in row.html
    assert out["a.png"].status == "error"
    os.remove(pdf_path)


def test_fetch_url_bytes(spark, binary_dir):
    """URL-fetch ingestion (ref Workers.java:127-129): executors pull
    payload bytes per row; dead links are in-band error rows. file://
    URLs keep the test hermetic."""
    good = "file://" + os.path.join(ART, "a.png")
    missing = "file://" + os.path.join(ART, "nope.bin")
    df = spark.createDataFrame(
        [(good,), (missing,), (None,)], "url string"
    )
    rows = {r.url: r for r in readers.fetch_url_bytes(df).collect()}
    assert rows[good].status == "ok"
    assert rows[good].byte_len == len(_payloads()["a.png"])
    assert bytes(rows[good].content)[:4] == b"\x89PNG"
    assert rows[missing].status == "error"
    assert rows[missing].content is None
    assert rows[None].status == "error"


def test_task_line_source(spark, binary_dir):
    """Reference task-file format (A1/A3): operation\\turl lines."""
    task_file = os.path.join(ART, "tasks.txt")
    with open(task_file, "w") as f:
        f.write("ToText\thttp://x/a.pdf\nToImage\thttp://x/b.pdf\nBADLINE\n")
    df = readers.read_task_lines(spark, task_file)
    rows = sorted(df.collect())
    assert ("BADLINE", None) in [tuple(r) for r in rows]  # malformed kept
    assert ("ToText", "http://x/a.pdf") in [tuple(r) for r in rows]


def test_reference_pipeline_end_to_end(spark, binary_dir):
    """The reference's whole dataflow (A1→A12), with every stage real:
    task lines → per-row URL fetch → PDF text extraction → per-status
    summary → report sink. This is what Workers.java + Manager.java do
    with a queue and a gather loop, as three chained distributed maps +
    one agg, and LocalApp.java's HTML report."""
    from pyspark.sql import functions as F

    pdf_a = os.path.join(ART, "e2e_a.pdf")
    with open(pdf_a, "wb") as f:
        f.write(_make_pdf(compress=True))
    task_file = os.path.join(ART, "e2e_tasks.txt")
    with open(task_file, "w") as f:
        f.write(f"ToText\tfile://{pdf_a}\n")
        f.write(f"ToText\tfile://{os.path.join(ART, 'missing.pdf')}\n")
        f.write(f"ToText\tfile://{os.path.join(ART, 'a.png')}\n")

    tasks = readers.read_task_lines(spark, task_file)
    fetched = readers.fetch_url_bytes(tasks, "url")
    # fetch errors flow through as extraction errors (in-band, ref A7)
    texts = multimodal.pdf_to_text(
        fetched.select(F.col("url").alias("path"), "content")
    )
    summary = {
        r.status: r.n
        for r in texts.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert summary == {"ok": 1, "error": 2}  # dead link + non-PDF payload
    ok = texts.filter(F.col("status") == "ok").collect()[0]
    assert "Hello" in ok.text

    # A12: the report of the fetch keeps every row in parquet, and the
    # dead link's error text (it carries "<urlopen error …>") is escaped
    # in the HTML, like the title
    report = os.path.join(ART, "e2e_report")
    fetch_report = fetched.select("url", "status", "error")
    readers.write_report(fetch_report, report, title="fetch <report>")
    (dead,) = [r.error for r in fetch_report.collect() if r.status == "error"]
    assert "<urlopen error" in dead
    with open(report + ".html", encoding="utf-8") as f:
        page = f.read()
    assert f"<td>{html.escape(dead)}</td>" in page
    assert "<urlopen" not in page
    assert "<h1>fetch &lt;report&gt;</h1>" in page
    stored = spark.read.parquet(report + ".parquet")
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, fetch_report.collect())
    )
    os.remove(pdf_a)
    os.remove(task_file)


def test_png_encoder_roundtrip():
    """encode_png_gray emits a spec-valid PNG (signature, CRC-framed
    chunks, filter-0 zlib scanlines) that the matching reader — and by
    construction any compliant reader — decodes byte-exactly."""
    w, h = 7, 5
    pixels = bytes((x * 37 + y * 11) % 256 for y in range(h) for x in range(w))
    png = encode_png_gray(w, h, pixels)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert png.endswith(b"IEND" + png[-4:])
    assert codecs.decode_png_gray8(png) == (w, h, pixels)
    # deterministic: same input, byte-identical file (idempotent sinks)
    assert encode_png_gray(w, h, pixels) == png
    with pytest.raises(ValueError):
        encode_png_gray(3, 3, b"\x00" * 8)  # wrong buffer size


def test_render_text_bitmap_ink_and_clip():
    from project_map_reduce_spark.operators.rasterize import render_text_bitmap

    w, h, pix = render_text_bitmap("HI")
    # 2 cells wide + margins, 1 line high + margins
    assert (w, h) == (2 * 6 + 8, 8 + 8)
    assert pix.count(0) > 0 and pix.count(255) > pix.count(0)
    # 'I' column (cell 2) must have ink; unknown glyphs fall back to box
    _, _, boxed = render_text_bitmap("é")  # not in FONT_5X7
    assert boxed.count(0) >= 16  # the outlined glyph-box
    # clipping: long lines/pages are bounded to one rendered page
    w2, h2, _ = render_text_bitmap(("x" * 500 + "\n") * 100)
    assert w2 == 100 * 6 + 8 and h2 == 60 * 8 + 8
    # empty text still yields a decodable blank page
    w3, h3, blank = render_text_bitmap("")
    assert w3 > 0 and h3 > 0 and blank.count(0) == 0


def test_pdf_to_image_operator(spark, binary_dir):
    """ToImage analog (ref Workers.java:150-160), REAL: PDF → extracted
    text → rasterized page → valid PNG bytes, per-record errors
    in-band. Round-trips through the stdlib decoder: dimensions match
    the IHDR, ink pixels exist for non-empty text."""
    pdf_path = os.path.join(ART, "img.pdf")
    with open(pdf_path, "wb") as f:
        f.write(_make_pdf(compress=True))
    df = spark.read.format("binaryFile").load(binary_dir)
    out = {os.path.basename(r.path): r for r in multimodal.pdf_to_image(df).collect()}

    ok = out["img.pdf"]
    assert ok.status == "ok" and ok.error is None
    w, h, pixels = codecs.decode_png_gray8(bytes(ok.png))
    assert (w, h) == (ok.width, ok.height)
    assert pixels.count(0) > 0  # rendered ink
    # c.pdf: magic but no stream → empty text → blank page, still ok
    blank = out["c.pdf"]
    assert blank.status == "ok"
    bw, bh, bpix = codecs.decode_png_gray8(bytes(blank.png))
    assert (bw, bh) == (blank.width, blank.height) and bpix.count(0) == 0
    # non-PDF payloads land on the error channel, not as exceptions
    assert out["a.png"].status == "error" and out["a.png"].png is None
    os.remove(pdf_path)
