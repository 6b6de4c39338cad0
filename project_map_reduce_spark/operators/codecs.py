"""Stdlib-only PNG and WAV decode for the multimodal queries.

No image or audio library ships with the engine, and none is needed
for the two formats its queries read back:

- **PNG** (W3C spec / RFC 2083): ``decode_png_gray8`` walks the
  CRC-checked chunks and reverses all five scanline filters
  (None/Sub/Up/Average/Paeth) of an 8-bit grayscale, non-interlaced
  image, the format ``operators/rasterize.py`` encodes. ``q_multimodal_dims``
  decodes its rendered pages with it.
- **WAV** (RIFF/WAVE): ``wav_info`` reads channels, sample rate and
  frame count with the stdlib ``wave`` reader, for ``q_audio_features``.

Both raise ``ValueError`` on malformed payloads; callers turn that into
in-band status='error' rows (ref Workers.java:186-221).
"""

from __future__ import annotations

import functools
import io
import struct
import wave
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _valueerror_contract(fn):
    """Enforce the module contract: malformed payloads raise ValueError.

    Truncated inputs would otherwise surface as struct.error /
    zlib.error / IndexError from the parsing internals — and a caller
    that (correctly) catches only ValueError would crash its executor
    task instead of emitting an in-band status='error' row."""

    @functools.wraps(fn)
    def wrapped(*args, **kw):
        try:
            return fn(*args, **kw)
        except (struct.error, zlib.error, IndexError) as ex:
            raise ValueError(f"malformed payload: {ex}") from ex

    return wrapped


def _png_chunks(raw: bytes):
    if raw[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos = 8
    while pos + 12 <= len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        tag = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError(f"truncated {tag!r} chunk")
        (crc,) = struct.unpack(">I", raw[pos + 8 + length : pos + 12 + length])
        if crc != zlib.crc32(tag + data) & 0xFFFFFFFF:
            raise ValueError(f"bad CRC in {tag!r}")
        yield tag, data
        if tag == b"IEND":
            return
        pos += 12 + length
    raise ValueError("no IEND chunk")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(dec: bytes, rowlen: int, height: int) -> bytearray:
    """Reverse PNG scanline filtering (all five filters) of one-byte
    pixels: ``rowlen`` filtered bytes per row, left neighbor one byte
    back. Returns the raw byte stream, row-major."""
    stride = rowlen + 1
    if len(dec) != stride * height:
        raise ValueError("scanline data size mismatch")
    out = bytearray(rowlen * height)
    prev = bytes(rowlen)
    for y in range(height):
        f = dec[y * stride]
        row = bytearray(dec[y * stride + 1 : (y + 1) * stride])
        if f == 0:
            pass
        elif f == 1:  # Sub
            for x in range(1, rowlen):
                row[x] = (row[x] + row[x - 1]) & 0xFF
        elif f == 2:  # Up
            for x in range(rowlen):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(rowlen):
                left = row[x - 1] if x else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(rowlen):
                left = row[x - 1] if x else 0
                c = prev[x - 1] if x else 0
                row[x] = (row[x] + _paeth(left, prev[x], c)) & 0xFF
        else:
            raise ValueError(f"bad filter {f} on row {y}")
        out[y * rowlen : (y + 1) * rowlen] = row
        prev = row
    return out


def _png_parse(raw: bytes):
    """Chunk walk: (w, h, depth, color, interlace, idat)."""
    width = height = depth = color = interlace = None
    idat = b""
    for tag, data in _png_chunks(raw):
        if tag == b"IHDR":
            if len(data) != 13:  # spec-fixed IHDR length
                raise ValueError(f"IHDR length {len(data)} != 13")
            width, height, depth, color = struct.unpack(">IIBB", data[:10])
            interlace = data[12]
            if interlace not in (0, 1):
                raise ValueError(f"bad interlace method {interlace}")
        elif tag == b"IDAT":
            idat += data
    if width is None:
        raise ValueError("missing IHDR")
    return width, height, depth, color, interlace, idat


@_valueerror_contract
def decode_png_gray8(raw: bytes) -> tuple[int, int, bytes]:
    """Full pixel decode of an 8-bit grayscale non-interlaced PNG,
    honoring all five scanline filters. Returns (width, height, pixels)
    with ``pixels`` row-major, one byte per pixel. Any other layout is
    rejected, not mis-decoded."""
    width, height, depth, color, interlace, idat = _png_parse(raw)
    if (depth, color) != (8, 0):
        raise ValueError(
            f"unsupported PNG subset (depth={depth}, color={color})"
        )
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported by the gray8 path")
    out = _unfilter(zlib.decompress(idat), width, height)
    return width, height, bytes(out)


@_valueerror_contract
def wav_info(raw: bytes) -> tuple[int, int, int]:
    """(n_channels, sample_rate, n_frames) via the stdlib wave reader
    (validates the RIFF/WAVE/fmt chunk structure for real)."""
    try:
        with wave.open(io.BytesIO(raw)) as w:
            return w.getnchannels(), w.getframerate(), w.getnframes()
    except wave.Error as ex:
        raise ValueError(str(ex)) from ex

