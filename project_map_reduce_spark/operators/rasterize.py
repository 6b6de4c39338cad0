"""Stdlib-only text rasterizer + PNG encoder (the ToImage backend).

The reference's third worker operation renders page 0 of a PDF to an
image file (pdfbox ``PDFToImage``, Workers.java:150-160). No raster or
codec library ships in this container, but a *valid PNG of rendered
text* needs none: PNG's mandatory chunks are zlib-deflated filtered
scanlines plus CRC-framed headers (both stdlib), and a legible page
raster needs only a bitmap font. So this module supplies:

- ``FONT_5X7``: a hand-authored 5×7 monochrome glyph table covering
  printable ASCII (lowercase maps to uppercase; anything else renders
  as a filled box — the classic glyph-box fallback);
- ``render_text_bitmap``: text → 8-bit grayscale page raster (white
  page, black ink, fixed-pitch 6×8 cells, margins, clipping);
- ``encode_png_gray``: minimal PNG writer (``codecs.decode_png_gray8``
  reads it back).

Everything is deterministic: same text → byte-identical PNG (zlib
level pinned), so the idempotent-sink replay guarantee extends through
the image path too.
"""

from __future__ import annotations

import struct
import zlib

# --- 5×7 font -------------------------------------------------------
# Each glyph is 7 rows of 5 bits, MSB = leftmost pixel column.
# Hand-authored; legibility is the goal, not typography.
FONT_5X7: dict[str, tuple[int, ...]] = {
    " ": (0b00000, 0b00000, 0b00000, 0b00000, 0b00000, 0b00000, 0b00000),
    "A": (0b01110, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "B": (0b11110, 0b10001, 0b10001, 0b11110, 0b10001, 0b10001, 0b11110),
    "C": (0b01110, 0b10001, 0b10000, 0b10000, 0b10000, 0b10001, 0b01110),
    "D": (0b11110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b11110),
    "E": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b11111),
    "F": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b10000),
    "G": (0b01110, 0b10001, 0b10000, 0b10111, 0b10001, 0b10001, 0b01111),
    "H": (0b10001, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "I": (0b01110, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "J": (0b00111, 0b00010, 0b00010, 0b00010, 0b00010, 0b10010, 0b01100),
    "K": (0b10001, 0b10010, 0b10100, 0b11000, 0b10100, 0b10010, 0b10001),
    "L": (0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b11111),
    "M": (0b10001, 0b11011, 0b10101, 0b10101, 0b10001, 0b10001, 0b10001),
    "N": (0b10001, 0b11001, 0b10101, 0b10011, 0b10001, 0b10001, 0b10001),
    "O": (0b01110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "P": (0b11110, 0b10001, 0b10001, 0b11110, 0b10000, 0b10000, 0b10000),
    "Q": (0b01110, 0b10001, 0b10001, 0b10001, 0b10101, 0b10010, 0b01101),
    "R": (0b11110, 0b10001, 0b10001, 0b11110, 0b10100, 0b10010, 0b10001),
    "S": (0b01111, 0b10000, 0b10000, 0b01110, 0b00001, 0b00001, 0b11110),
    "T": (0b11111, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100),
    "U": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "V": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01010, 0b00100),
    "W": (0b10001, 0b10001, 0b10001, 0b10101, 0b10101, 0b10101, 0b01010),
    "X": (0b10001, 0b10001, 0b01010, 0b00100, 0b01010, 0b10001, 0b10001),
    "Y": (0b10001, 0b10001, 0b01010, 0b00100, 0b00100, 0b00100, 0b00100),
    "Z": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b10000, 0b11111),
    "0": (0b01110, 0b10001, 0b10011, 0b10101, 0b11001, 0b10001, 0b01110),
    "1": (0b00100, 0b01100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "2": (0b01110, 0b10001, 0b00001, 0b00010, 0b00100, 0b01000, 0b11111),
    "3": (0b11111, 0b00010, 0b00100, 0b00010, 0b00001, 0b10001, 0b01110),
    "4": (0b00010, 0b00110, 0b01010, 0b10010, 0b11111, 0b00010, 0b00010),
    "5": (0b11111, 0b10000, 0b11110, 0b00001, 0b00001, 0b10001, 0b01110),
    "6": (0b00110, 0b01000, 0b10000, 0b11110, 0b10001, 0b10001, 0b01110),
    "7": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b01000, 0b01000),
    "8": (0b01110, 0b10001, 0b10001, 0b01110, 0b10001, 0b10001, 0b01110),
    "9": (0b01110, 0b10001, 0b10001, 0b01111, 0b00001, 0b00010, 0b01100),
    ".": (0b00000, 0b00000, 0b00000, 0b00000, 0b00000, 0b01100, 0b01100),
    ",": (0b00000, 0b00000, 0b00000, 0b00000, 0b01100, 0b00100, 0b01000),
    ":": (0b00000, 0b01100, 0b01100, 0b00000, 0b01100, 0b01100, 0b00000),
    ";": (0b00000, 0b01100, 0b01100, 0b00000, 0b01100, 0b00100, 0b01000),
    "!": (0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b00000, 0b00100),
    "?": (0b01110, 0b10001, 0b00001, 0b00010, 0b00100, 0b00000, 0b00100),
    "-": (0b00000, 0b00000, 0b00000, 0b11111, 0b00000, 0b00000, 0b00000),
    "+": (0b00000, 0b00100, 0b00100, 0b11111, 0b00100, 0b00100, 0b00000),
    "_": (0b00000, 0b00000, 0b00000, 0b00000, 0b00000, 0b00000, 0b11111),
    "=": (0b00000, 0b00000, 0b11111, 0b00000, 0b11111, 0b00000, 0b00000),
    "/": (0b00001, 0b00001, 0b00010, 0b00100, 0b01000, 0b10000, 0b10000),
    "\\": (0b10000, 0b10000, 0b01000, 0b00100, 0b00010, 0b00001, 0b00001),
    "(": (0b00010, 0b00100, 0b01000, 0b01000, 0b01000, 0b00100, 0b00010),
    ")": (0b01000, 0b00100, 0b00010, 0b00010, 0b00010, 0b00100, 0b01000),
    "'": (0b00100, 0b00100, 0b01000, 0b00000, 0b00000, 0b00000, 0b00000),
    '"': (0b01010, 0b01010, 0b10100, 0b00000, 0b00000, 0b00000, 0b00000),
    "*": (0b00000, 0b00100, 0b10101, 0b01110, 0b10101, 0b00100, 0b00000),
    "%": (0b11001, 0b11010, 0b00010, 0b00100, 0b01000, 0b01011, 0b10011),
    "#": (0b01010, 0b01010, 0b11111, 0b01010, 0b11111, 0b01010, 0b01010),
    "@": (0b01110, 0b10001, 0b10111, 0b10101, 0b10111, 0b10000, 0b01110),
    "&": (0b01100, 0b10010, 0b10100, 0b01000, 0b10101, 0b10010, 0b01101),
    "<": (0b00010, 0b00100, 0b01000, 0b10000, 0b01000, 0b00100, 0b00010),
    ">": (0b01000, 0b00100, 0b00010, 0b00001, 0b00010, 0b00100, 0b01000),
    "[": (0b01110, 0b01000, 0b01000, 0b01000, 0b01000, 0b01000, 0b01110),
    "]": (0b01110, 0b00010, 0b00010, 0b00010, 0b00010, 0b00010, 0b01110),
}
# Unknown codepoints render as the glyph-box: an outlined filled cell.
_BOX = (0b11111, 0b10001, 0b10101, 0b10101, 0b10101, 0b10001, 0b11111)

_CELL_W, _CELL_H = 6, 8  # 5×7 glyph + 1px inter-glyph/inter-line gap
_MARGIN = 4
_INK, _PAPER = 0, 255


def render_text_bitmap(
    text: str,
    *,
    max_cols: int = 100,
    max_lines: int = 60,
) -> tuple[int, int, bytes]:
    """Render ``text`` to (width, height, 8-bit grayscale pixels).

    Fixed-pitch page raster: one 6×8 cell per character, white paper,
    black ink, 4 px margins. Long lines and long pages CLIP (the
    reference renders exactly one page, Workers.java:155); an empty
    text still yields a one-cell-high blank page so every record
    produces a decodable image.
    """
    lines = (text or "").splitlines() or [""]
    lines = [ln[:max_cols] for ln in lines[:max_lines]]
    n_cols = max(1, max((len(ln) for ln in lines), default=1))
    n_rows = max(1, len(lines))
    width = n_cols * _CELL_W + 2 * _MARGIN
    height = n_rows * _CELL_H + 2 * _MARGIN

    page = bytearray([_PAPER]) * (width * height)
    for row, ln in enumerate(lines):
        y0 = _MARGIN + row * _CELL_H
        for col, ch in enumerate(ln):
            glyph = FONT_5X7.get(ch.upper(), _BOX)
            x0 = _MARGIN + col * _CELL_W
            for gy, bits in enumerate(glyph):
                if not bits:
                    continue
                base = (y0 + gy) * width + x0
                for gx in range(5):
                    if bits & (0b10000 >> gx):
                        page[base + gx] = _INK
    return width, height, bytes(page)


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png_gray(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal valid PNG: 8-bit grayscale, filter 0 scanlines, one IDAT.

    Every mandatory piece of the spec is present — signature, IHDR,
    CRC-framed chunks, zlib-wrapped filtered scanlines, IEND — so any
    standards-compliant reader decodes it. Compression level pinned for
    byte-determinism."""
    if len(pixels) != width * height:
        raise ValueError(
            f"pixel buffer {len(pixels)} != {width}x{height}"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )
