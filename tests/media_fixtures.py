"""Encoders that build media fixtures for the decoder tests.

The package decodes these formats; nothing in it encodes them, so the
encoder halves live here, beside the tests that round-trip through
them. Each one emits byte-deterministic, spec-valid output.
"""

from __future__ import annotations

import struct

from ad_data_lake_spark.llm.mp4_meta import _box, encode_mp4_from_samples
from ad_data_lake_spark.llm.webp_codec import (
    _CL_ORDER,
    _MAX_PIXELS,
    _NUM_DIST,
    _NUM_LENGTH,
    _NUM_LIT,
    _canonical_codes,
)

# --- lossless WebP: literal-only VP8L --------------------------------------


class _BitWriter:
    __slots__ = ("out", "cur", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.cur |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.cur & 0xFF)
            self.cur >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur & 0xFF)
            self.cur, self.nbits = 0, 0
        return bytes(self.out)


def _huffman_lengths(freqs: list[int], max_len: int) -> list[int]:
    """Depth-limited Huffman code lengths (≥2 used symbols). When the
    tree exceeds ``max_len``, frequencies are halved (floor at 1) and
    the tree rebuilt — the standard flattening trick."""
    import heapq

    while True:
        heap = [(f, i, ("leaf", i)) for i, f in enumerate(freqs) if f > 0]
        heapq.heapify(heap)
        tick = len(freqs)
        while len(heap) > 1:
            fa, _, a = heapq.heappop(heap)
            fb, _, b = heapq.heappop(heap)
            heapq.heappush(heap, (fa + fb, tick, ("node", a, b)))
            tick += 1
        lengths = [0] * len(freqs)

        def walk(node, depth):
            if node[0] == "leaf":
                lengths[node[1]] = max(depth, 1)
            else:
                walk(node[1], depth + 1)
                walk(node[2], depth + 1)

        walk(heap[0][2], 0)
        if max(lengths) <= max_len:
            return lengths
        freqs = [(f + 1) >> 1 if f > 0 else 0 for f in freqs]


def _write_symbol(bw: _BitWriter, code: int, length: int) -> None:
    """Emit a canonical code MSB-first into the LSB-first stream (the
    decoder descends its tree one bit at a time, MSB of the code
    first — same convention as DEFLATE)."""
    rev = 0
    for _ in range(length):
        rev = (rev << 1) | (code & 1)
        code >>= 1
    bw.write(rev, length)


def _write_prefix_code(
    bw: _BitWriter, freqs: list[int]
) -> dict[int, tuple[int, int]]:
    """Transmit a prefix code for ``freqs`` and return symbol ->
    (code, length) for emitting the payload. Uses a simple code for
    0/1/2 used symbols, else the code-length-coded normal form with
    every length emitted literally (valid, if not maximally tight —
    fixtures are small)."""
    used = [s for s, f in enumerate(freqs) if f > 0]
    if len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)  # simple
        if not used:
            used = [0]
        bw.write(len(used) - 1, 1)
        first = used[0]
        if first >= 2:
            bw.write(1, 1)
            bw.write(first, 8)
        else:
            bw.write(0, 1)
            bw.write(first, 1)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        bw.write(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}

    lengths = _huffman_lengths(freqs, 15)
    # code-length code over the 19-symbol alphabet (lengths 0-15 used
    # literally; no 16/17/18 repeats — simplicity over density)
    cl_freqs = [0] * 19
    for ln in lengths:
        cl_freqs[ln] += 1
    if sum(1 for f in cl_freqs if f > 0) == 1:
        # a lone code-length symbol would need a zero-bit CL tree the
        # normal form can't express — pad with a second symbol
        lone = next(i for i, f in enumerate(cl_freqs) if f > 0)
        other = 0 if lone != 0 else 1
        cl_lengths = [0] * 19
        cl_lengths[lone] = cl_lengths[other] = 1
    else:
        cl_lengths = _huffman_lengths(cl_freqs, 7)
    bw.write(0, 1)  # normal (not simple)
    order_pos = {s: i for i, s in enumerate(_CL_ORDER)}
    num_cl = max(4, 1 + max(order_pos[s] for s, ln in enumerate(cl_lengths) if ln))
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol shortcut
    cl_codes = _canonical_codes(cl_lengths)
    for ln in lengths:
        c, n = cl_codes[ln]
        _write_symbol(bw, c, n)
    return {s: cl for s, cl in _canonical_codes(lengths).items()}


def _write_literal_plane(bw: _BitWriter, argb: list[int], is_main: bool) -> None:
    """Write one spatially-coded plane as pure literals: no color
    cache, no meta-prefix image (main plane only carries that bit), no
    backward references — per-channel prefix codes over the actual
    symbol frequencies. Shared by encode_webp and the transform-path
    test fixtures (which prepend transform records to it)."""
    bw.write(0, 1)  # no color cache
    if is_main:
        bw.write(0, 1)  # no meta-prefix image

    green_freqs = [0] * (_NUM_LIT + _NUM_LENGTH)
    red_freqs = [0] * _NUM_LIT
    blue_freqs = [0] * _NUM_LIT
    alpha_freqs = [0] * _NUM_LIT
    for px in argb:
        green_freqs[(px >> 8) & 0xFF] += 1
        red_freqs[(px >> 16) & 0xFF] += 1
        blue_freqs[px & 0xFF] += 1
        alpha_freqs[(px >> 24) & 0xFF] += 1

    g_codes = _write_prefix_code(bw, green_freqs)
    r_codes = _write_prefix_code(bw, red_freqs)
    b_codes = _write_prefix_code(bw, blue_freqs)
    a_codes = _write_prefix_code(bw, alpha_freqs)
    _write_prefix_code(bw, [1] + [0] * (_NUM_DIST - 1))  # unused distance tree

    for px in argb:
        for codes, val in (
            (g_codes, (px >> 8) & 0xFF),
            (r_codes, (px >> 16) & 0xFF),
            (b_codes, px & 0xFF),
            (a_codes, (px >> 24) & 0xFF),
        ):
            c, ln = codes[val]
            if ln:
                _write_symbol(bw, c, ln)


def _wrap_vp8l(vp8l: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"  # RIFF chunks pad to even length
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def encode_webp(pixels: bytes, width: int, height: int, channels: int = 3) -> bytes:
    """Encode packed RGB/RGBA pixels as a literal-only lossless WebP —
    deterministic bytes; decode_webp round-trips it bit-exactly."""
    if channels not in (3, 4):
        raise ValueError(f"WebP encode needs RGB/RGBA, got {channels} channels")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, want {width * height * channels}"
        )
    if not (1 <= width <= 16384 and 1 <= height <= 16384):
        raise ValueError(f"bad dimensions {width}x{height} (VP8L max 16384)")
    if width * height > _MAX_PIXELS:
        # keep encode and decode limits aligned: the decoder bounds
        # plane allocation at _MAX_PIXELS (same cap as the JPEG codec),
        # so emitting a larger spec-legal image would produce a file
        # the sibling decoder refuses — a broken roundtrip contract
        raise ValueError(
            f"refusing to encode {width}x{height} (> {_MAX_PIXELS} px, "
            "the vendored decoder's bound)"
        )

    argb = []
    for i in range(width * height):
        s = i * channels
        a = pixels[s + 3] if channels == 4 else 255
        argb.append(
            (a << 24) | (pixels[s] << 16) | (pixels[s + 1] << 8) | pixels[s + 2]
        )

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)  # alpha_is_used
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    _write_literal_plane(bw, argb, is_main=True)
    vp8l = bw.finish()
    return _wrap_vp8l(vp8l)


# --- GIF, BMP ---------------------------------------------------------------


def encode_gif_gray(pixels: bytes, width: int, height: int, channels: int = 3) -> bytes:
    """Encode RGB/RGBA pixels as a GIF using a 256-entry grayscale
    palette (each pixel maps to its luma) — a deterministic CI-fixture
    encoder, not a general quantizer. Luma = the JPEG integer formula
    rounded down, so the decode side is exactly recoverable for inputs
    that are already gray (r == g == b).

    The LZW stream is built WITHOUT a dictionary (each pixel a literal
    root code, with a CLEAR whenever the table would otherwise grow a
    code width) — the classic "uncompressed GIF" trick: larger files,
    trivially correct, and every compliant decoder accepts it."""
    if channels not in (3, 4):
        raise ValueError(f"GIF encode needs RGB/RGBA, got {channels} channels")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, want {width * height * channels}"
        )
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"

    min_code = 8
    clear = 1 << min_code  # 256
    eoi = clear + 1
    width_bits = min_code + 1  # 9, held fixed by clearing early

    acc = n_bits = 0
    stream = bytearray()

    def put(code: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width_bits
        while n_bits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    put(clear)
    count = 0
    for i in range(width * height):
        p = pixels[i * channels : i * channels + 3]
        luma = (299 * p[0] + 587 * p[1] + 114 * p[2]) // 1000
        put(luma)
        count += 1
        # each literal grows the table; clear before it would force a
        # 10th bit (table reaches 2^9 entries after 510 additions)
        if count == (1 << width_bits) - clear - 2:
            put(clear)
            count = 0
    put(eoi)
    if n_bits:
        stream.append(acc & 0xFF)

    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def encode_bmp(pixels: bytes, width: int, height: int, channels: int = 3) -> bytes:
    """Encode packed RGB/RGBA pixels as an uncompressed bottom-up BMP —
    deterministic bytes, used to build CI fixtures for the decoder."""
    if channels not in (3, 4):
        raise ValueError(f"BMP encode needs RGB/RGBA, got {channels} channels")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, want {width * height * channels}"
        )
    stride = (width * channels + 3) & ~3
    body = bytearray(stride * height)
    for row in range(height):
        src = (height - 1 - row) * width * channels  # bottom-up
        base = row * stride
        for x in range(width):
            s = src + x * channels
            d = base + x * channels
            body[d] = pixels[s + 2]
            body[d + 1] = pixels[s + 1]
            body[d + 2] = pixels[s]
            if channels == 4:
                body[d + 3] = pixels[s + 3]
    pix_off = 54
    header = b"BM" + struct.pack("<IHHI", pix_off + len(body), 0, 0, pix_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, channels * 8, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + bytes(body)


# --- MP4 ---------------------------------------------------------------------


def synth_mp4_meta(
    duration_s: float,
    timescale: int = 1_000,
    tracks: tuple[tuple[str, str, int, int], ...] = (("vide", "avc1", 640, 360),),
) -> bytes:
    """Minimal valid ISO-BMFF bytes (ftyp + moov/mvhd + one trak per
    spec entry) for tests and fixtures — the encoder half of the
    parse contract, like ``encode_wav``/``encode_avi_dib``."""
    dur = int(round(duration_s * timescale))
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">IIII", 0, 0, timescale, dur)
        + b"\x00" * 80,
    )
    traks = b""
    for handler, codec, w, h in tracks:
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07"  # version 0 + flags
            # ctime, mtime, track_id, reserved, duration (20 bytes)
            + struct.pack(">IIIII", 0, 0, 1, 0, dur)
            # reserved 8 + layer/alternate/volume/reserved 8 + matrix 36
            + b"\x00" * 52
            + struct.pack(">II", w << 16, h << 16),
        )
        hdlr = _box(
            b"hdlr",
            b"\x00" * 8 + handler.encode("ascii") + b"\x00" * 12 + b"\x00",
        )
        stsd = _box(
            b"stsd",
            b"\x00" * 4
            + struct.pack(">I", 1)
            + _box(codec.encode("ascii"), b"\x00" * 70),
        )
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdhd = _box(
            b"mdhd",
            b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, timescale, dur) + b"\x00" * 4,
        )
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        traks += _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + traks)
    return ftyp + moov


def encode_mp4_mjpeg(frames, fps: int = 10) -> bytes:
    """Encode RGB uint8 frames (each (H, W, 3)) as a motion-JPEG MP4:
    one complete baseline JPEG per sample in mdat, a spec-complete
    stbl (stsd 'jpeg' + stts + stsc + stsz + stco, one sample per
    chunk so stco IS the per-sample offset table) in moov. mdat
    precedes moov so sample offsets never depend on moov's size.
    Byte-deterministic within a host — the encoder half of the decode
    contract, like ``encode_avi_dib``. Per-sample JPEGs come from the
    native libjpeg shim when present (same 4:4:4/quality-90 stream
    class) and from the vendored ``jpeg_codec`` otherwise; both keep
    DC-only solid blocks value-exact through any conforming decoder
    (pinned in tests/test_av_codecs.py)."""
    from ad_data_lake_spark.llm import jpeg_codec, jpeg_ffi

    encode = jpeg_ffi.encode_jpeg if jpeg_ffi.available() else jpeg_codec.encode_jpeg
    if not frames:
        raise ValueError("no frames")
    h, w, ch = frames[0].shape
    if ch != 3:
        raise ValueError(f"RGB frames only (got {ch} channels)")
    samples = []
    for fr in frames:
        if fr.shape != (h, w, 3):
            raise ValueError("frames must share one shape")
        samples.append(encode(fr.tobytes(), w, h))
    return encode_mp4_from_samples(samples, w, h, fps)
