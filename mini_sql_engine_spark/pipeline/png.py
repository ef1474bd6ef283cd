"""Stdlib-only PNG codec for the multimodal decode kernel.

The container ships no imaging library, but PNG's baseline profile is
decodable with nothing beyond ``zlib`` + ``struct``: chunked container,
DEFLATE-compressed scanlines, five per-row predictor filters (RFC 2083).
This gives the §2.10 multimodal operators a REAL decode path — actual
pixels out of actual compressed bytes — while anything non-PNG still
raises ``NotImplementedError`` (plug Pillow there in production).

Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA), non-interlaced. That covers everything the repo's encoder
produces and the common ML-corpus thumbnail case; paletted (3) and
16-bit images raise with a precise message rather than mis-decoding.

Scale note: this runs inside Arrow-batched ``mapInPandas`` workers —
per-image pure-Python unfiltering is the slow-but-correct reference
kernel; the production swap-in (Pillow-SIMD / torchvision) keeps the
identical (width, height, channels, pixels) contract.
"""

from __future__ import annotations

import struct
import zlib

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def is_png(data: bytes) -> bool:
    return data is not None and data[:8] == _PNG_MAGIC


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline PNG → ``(width, height, channels, pixels)``
    with ``pixels`` a row-major bytes object, ``channels`` interleaved
    samples per pixel."""
    if not is_png(data):
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    channels = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + body + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise NotImplementedError(f"PNG bit depth {depth} unsupported (8 only)")
            if color not in _CHANNELS:
                raise NotImplementedError(f"PNG color type {color} unsupported")
            if interlace:
                raise NotImplementedError("interlaced (Adam7) PNG unsupported")
            channels = _CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG: missing IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG data length mismatch")
    return width, height, channels, _unfilter(raw, height, stride, channels)


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytes:
    """Reverse the five RFC 2083 row filters (None/Sub/Up/Average/Paeth)."""
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                row[x] = (row[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = row
        prev = row
    return bytes(out)


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Encode row-major interleaved 8-bit samples as a baseline PNG
    (filter 0 rows — correctness-first; codec parity is what tests
    need, not compression ratio)."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer does not match dimensions")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)
