"""Vendored BMP decoder, pure stdlib — the simplest of
the reference uploader's accepted formats
(``/root/reference/pages/2_Creative_Uploader.py:25`` lists ``.bmp``).

Scope: uncompressed (BI_RGB) 24-bit BGR and 32-bit BGRA with the
classic 40-byte BITMAPINFOHEADER — what virtually every ``.bmp`` in an
ad-creative workflow is. Top-down (negative height) and bottom-up rows
both decode. Anything else (RLE, 1/4/8-bit palettes, V4/V5 headers
beyond the core fields) raises ValueError, and the multimodal tier
falls back to its deterministic stand-in — same error contract as
``png_codec``/``jpeg_codec`` (drift never kills an Arrow batch).
"""

from __future__ import annotations

import struct


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, packed RGB/RGBA pixels) for an
    uncompressed 24/32-bit BMP; ValueError for anything else."""
    try:
        return _decode_bmp_strict(data)
    except ValueError:
        raise
    except (struct.error, IndexError, OverflowError) as exc:
        raise ValueError(f"corrupt BMP: {exc!r}") from exc


def _decode_bmp_strict(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP (bad signature or short header)")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if planes != 1:
        raise ValueError(f"bad BMP planes {planes}")
    if compression != 0:
        raise ValueError(f"compressed BMP unsupported (type {compression})")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp} (24/32 only)")
    if width <= 0 or height_raw == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height_raw}")
    top_down = height_raw < 0
    height = -height_raw if top_down else height_raw
    channels = bpp // 8
    stride = (width * channels + 3) & ~3  # rows pad to 4 bytes
    need = pix_off + stride * height
    if len(data) < need:
        raise ValueError(f"truncated BMP ({len(data)} bytes, want {need})")
    out = bytearray(width * height * channels)
    for row in range(height):
        src_row = row if top_down else height - 1 - row
        base = pix_off + src_row * stride
        o = row * width * channels
        for x in range(width):
            s = base + x * channels
            # BGR(A) on disk -> RGB(A) out
            out[o] = data[s + 2]
            out[o + 1] = data[s + 1]
            out[o + 2] = data[s]
            if channels == 4:
                out[o + 3] = data[s + 3]
            o += channels
    return width, height, channels, bytes(out)
