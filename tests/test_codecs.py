"""Unit tests for the stdlib-only codec layer (operators/codecs.py):
PNG five-filter pixel decode and WAV via the stdlib wave reader — pure
functions, no Spark session needed."""

from __future__ import annotations

import io
import struct
import wave as _wave
import zlib

import pytest

from project_map_reduce_spark.operators import codecs
from project_map_reduce_spark.operators.rasterize import encode_png_gray

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _png_with_filters(width, height, pixels, filters):
    """Hand-assemble a gray8 PNG whose row y uses filters[y] — exercises
    the unfilter paths our encoder (always filter 0) never emits."""
    rows = [
        bytearray(pixels[y * width : (y + 1) * width]) for y in range(height)
    ]
    prev = bytes(width)
    scan = b""
    for y, f in enumerate(filters):
        cur = rows[y]
        enc = bytearray(cur)
        if f == 1:  # Sub: raw[x] - raw[x-1]
            for x in range(width - 1, 0, -1):
                enc[x] = (cur[x] - cur[x - 1]) & 0xFF
        elif f == 2:  # Up
            for x in range(width):
                enc[x] = (cur[x] - prev[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(width):
                left = cur[x - 1] if x else 0
                enc[x] = (cur[x] - ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(width):
                left = cur[x - 1] if x else 0
                c = prev[x - 1] if x else 0
                enc[x] = (cur[x] - codecs._paeth(left, prev[x], c)) & 0xFF
        scan += bytes([f]) + bytes(enc)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan))
        + _chunk(b"IEND", b"")
    )


def test_png_decode_all_filters():
    """One row per filter type — the decoded raster must equal the
    original regardless of how each scanline was filtered."""
    w, h = 9, 5
    pixels = bytes((x * 29 + y * 53) % 256 for y in range(h) for x in range(w))
    png = _png_with_filters(w, h, pixels, [0, 1, 2, 3, 4])
    assert codecs.decode_png_gray8(png) == (w, h, pixels)
    # and the round trip through our own encoder agrees
    assert codecs.decode_png_gray8(encode_png_gray(w, h, pixels)) == (
        w, h, pixels,
    )


def test_png_info_and_errors():
    png = encode_png_gray(6, 4, bytes(24))
    assert codecs.decode_png_gray8(png) == (6, 4, bytes(24))
    with pytest.raises(ValueError):
        codecs.decode_png_gray8(b"not a png")
    # flipped payload byte → CRC failure, loudly
    bad = bytearray(png)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError):
        codecs.decode_png_gray8(bytes(bad))
    # truncated stream → no IEND
    with pytest.raises(ValueError):
        codecs.decode_png_gray8(png[:20])
    # unsupported subset rejected, not mis-decoded
    ihdr_rgb = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    rgb = _SIG + _chunk(b"IHDR", ihdr_rgb) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        codecs.decode_png_gray8(rgb)


def test_wav_info():
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(bytes(2 * 2 * 7))
    assert codecs.wav_info(buf.getvalue()) == (2, 44100, 7)
    with pytest.raises(ValueError):
        codecs.wav_info(b"RIFF\x00\x00\x00\x00JUNK")


def test_png_roundtrip_property():
    """Property: decode(encode(pixels)) is the identity for arbitrary
    sizes and contents — including 1x1, single-row, and single-column
    rasters (the stride edge cases)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        seed=st.integers(0, 2**32 - 1),
    )
    def check(w, h, seed):
        pixels = bytes((seed * 2654435761 + i * 40503) % 256 for i in range(w * h))
        png = encode_png_gray(w, h, pixels)
        assert codecs.decode_png_gray8(png) == (w, h, pixels)

    check()
