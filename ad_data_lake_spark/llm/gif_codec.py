"""Vendored GIF decoder (first frame), pure stdlib — the reference uploader accepts ``.gif``
(``/root/reference/pages/2_Creative_Uploader.py:25``).

Scope: GIF87a/89a, global or local color table, non-interlaced,
first image frame only (an ad creative's poster frame; animation
frames beyond the first are ignored, matching what a thumbnailer
needs). The LZW decoder is the spec's variable-code-width variant
(clear/EOI codes, 12-bit cap). Interlaced frames raise ValueError —
the Adam7-style out-of-scope line the PNG codec draws — as does
anything malformed; the multimodal tier then falls back to its
deterministic stand-in (drift never kills an Arrow batch). The
fixture encoder lives in ``tests/media_fixtures.py``.
"""

from __future__ import annotations

import struct


# --------------------------------------------------------------------------
# Decode
# --------------------------------------------------------------------------


def decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, 3, packed RGB pixels) of the FIRST frame of a
    non-interlaced GIF; ValueError for anything else."""
    try:
        return _decode_gif_strict(data)
    except ValueError:
        raise
    except (struct.error, IndexError, OverflowError) as exc:
        raise ValueError(f"corrupt GIF: {exc!r}") from exc


def _color_table(data: bytes, pos: int, packed: int) -> tuple[list[bytes], int]:
    n = 2 << (packed & 0x07)
    table = [data[pos + 3 * i : pos + 3 * i + 3] for i in range(n)]
    if len(table[-1]) != 3:
        raise ValueError("truncated GIF color table")
    return table, pos + 3 * n


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos : pos + n]
        if len(out) < n:
            raise ValueError("truncated GIF sub-block body")
        pos += n


def _lzw_decode(min_code: int, stream: bytes, n_pixels: int) -> bytes:
    if not 2 <= min_code <= 8:
        raise ValueError(f"bad GIF LZW min code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []

    def reset() -> int:
        nonlocal table
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        return min_code + 1

    width = reset()
    acc = n_bits = 0
    prev: bytes | None = None
    for byte in stream:
        acc |= byte << n_bits
        n_bits += 8
        while n_bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            n_bits -= width
            if code == clear:
                width = reset()
                prev = None
                continue
            if code == eoi:
                if len(out) < n_pixels:
                    raise ValueError("GIF LZW stream ended early (EOI)")
                return bytes(out[:n_pixels])
            if prev is None:
                if code >= len(table):
                    raise ValueError("bad first GIF LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("GIF LZW code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= n_pixels:
                return bytes(out[:n_pixels])
    raise ValueError("truncated GIF LZW stream")


def _decode_gif_strict(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    packed = data[10]
    pos = 13
    gct: list[bytes] | None = None
    if packed & 0x80:
        gct, pos = _color_table(data, pos, packed)
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            _, pos = _sub_blocks(data, pos + 2)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        left, top, w, h = struct.unpack_from("<HHHH", data, pos + 1)
        ipacked = data[pos + 9]
        pos += 10
        if ipacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        table = gct
        if ipacked & 0x80:
            table, pos = _color_table(data, pos, ipacked)
        if table is None:
            raise ValueError("GIF frame has no color table")
        if w <= 0 or h <= 0:
            raise ValueError(f"bad GIF frame dims {w}x{h}")
        min_code = data[pos]
        stream, pos = _sub_blocks(data, pos + 1)
        idx = _lzw_decode(min_code, stream, w * h)
        out = bytearray(w * h * 3)
        for i, ci in enumerate(idx):
            if ci >= len(table):
                raise ValueError("GIF pixel index outside color table")
            out[3 * i : 3 * i + 3] = table[ci]
        return w, h, 3, bytes(out)
    raise ValueError("GIF has no image frame")
