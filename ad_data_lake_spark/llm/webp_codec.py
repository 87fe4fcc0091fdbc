"""Vendored lossless-WebP (VP8L) codec, pure stdlib — the last of the
reference uploader's accepted formats without an in-CI decoder
(``/root/reference/pages/2_Creative_Uploader.py:25`` lists ``.webp``).

Written against the public *WebP Lossless Bitstream Specification*
(the VP8L format: RIFF container, LSB-first bitstream, canonical
prefix codes, LZ77 + color-cache backward references, and the four
per-image transforms).

Decode scope — the full VP8L still-image feature set:

- simple (1/2-symbol) and normal (code-length-coded) prefix codes,
  including the ``max_symbol`` short-circuit;
- color cache (1-11 bit) with the spec's multiplicative hash;
- meta-prefix partitioning (entropy image) of the main ARGB plane;
- LZ77 backward references with both linear and 2D-neighborhood
  distance codes (the 120-entry close-pixel map, generated by the
  spec's distance-then-scan-order rule and pinned against the spec's
  published table in tests);
- all four transforms inverted in reverse bitstream order: PREDICTOR
  (the 14 spatial modes with contiguous-scan edge semantics), COLOR
  (signed 3.5 fixed-point cross-channel deltas), SUBTRACT_GREEN, and
  COLOR_INDEXING (palette with sub-byte pixel bundling).

Lossy WebP (``VP8 `` chunks) is out of scope and raises ValueError —
the multimodal tier then decodes it via libwebp when present, else
falls back to the deterministic stand-in, the same error contract as the sibling codecs
(``png_codec``/``jpeg_codec``/``gif_codec``/``bmp_codec``): a corrupt
or unsupported payload must raise ValueError, never kill an Arrow
batch.

The fixture encoder (literal-only VP8L with real per-channel Huffman
codes) lives in ``tests/media_fixtures.py``; round-trips through it
are bit-exact because VP8L is lossless.
"""

from __future__ import annotations

import struct

_MAX_PIXELS = 64 << 20  # same decode-side bound as the JPEG codec
# Decompression-bomb fuse for THIS pure-Python decoder. Unlike JPEG —
# where the 64M-pixel cap is backstopped by the format itself needing
# entropy data per MCU — VP8L single-symbol (zero-bit) prefix codes let
# a <100-byte stream legally declare tens of megapixels, which the
# per-pixel Python loops below would chew through for minutes of CPU
# and GBs of list storage inside an Arrow batch of untrusted payloads.
# So declared pixels are additionally bounded by input size: allow
# _BOMB_FLOOR_PIXELS unconditionally (1 MP ≈ seconds of worst-case
# work), plus _BOMB_PIXELS_PER_BYTE for every payload byte. This is a
# CPU/memory fuse for the FALLBACK path, not a format limit — it can
# refuse a legitimate ultra-compressible image (a solid-color 4 MP
# VP8L is ~100 bytes), whose decode here would genuinely cost minutes
# anyway; the native decoder (libwebp ctypes), which handles
# such images in milliseconds, keep the full _MAX_PIXELS budget.
_BOMB_FLOOR_PIXELS = 1 << 20
_BOMB_PIXELS_PER_BYTE = 1024
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_NUM_LIT = 256
_NUM_LENGTH = 24
_NUM_DIST = 40

# transform tags (2-bit field in the bitstream)
_T_PREDICTOR = 0
_T_COLOR = 1
_T_SUBTRACT_GREEN = 2
_T_COLOR_INDEX = 3


def _distance_map() -> list[tuple[int, int]]:
    """The 120 close-pixel (dx, dy) offsets distance codes 1..120 map
    to: every causal offset with dy in 0..7 and dx in -7..8 (dx >= 1 on
    the current row) — exactly 120 of them — ordered by euclidean
    distance, ties broken larger-dy-first then larger-dx-first.

    Both the window bounds and the ordering are pinned against
    libwebp's own codec in tests (the full 120-entry table was
    recovered empirically by crafting images whose only repeat sits at
    a chosen (dx, dy) and observing which 2D code libwebp emits, at
    two widths; and every decode is cross-validated bit-exactly
    against ``libwebp.so``). An earlier draft used a symmetric
    9x17 window truncated to 120 — plausible, and invisible to
    roundtrip tests because the literal-only encoder never emits 2D
    codes — but real libwebp streams using codes 97..120 decoded to
    wrong pixels; the asymmetric window above is the real one."""
    cand = [
        (x, y)
        for y in range(0, 8)
        for x in range(-7, 9)
        if y > 0 or x > 0
    ]
    cand.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    assert len(cand) == 120
    return cand


_DIST_MAP = _distance_map()


class _BitReader:
    """LSB-first bit reader (VP8L convention: bits fill each byte from
    the least-significant end)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits

    def bits(self, n: int) -> int:
        v = 0
        p = self.pos
        data = self.data
        for i in range(n):
            byte_i, bit_i = (p + i) >> 3, (p + i) & 7
            if byte_i >= len(data):
                raise ValueError("truncated VP8L bitstream")
            v |= ((data[byte_i] >> bit_i) & 1) << i
        self.pos = p + n
        return v

    def bit(self) -> int:
        p = self.pos
        byte_i = p >> 3
        if byte_i >= len(self.data):
            raise ValueError("truncated VP8L bitstream")
        self.pos = p + 1
        return (self.data[byte_i] >> (p & 7)) & 1


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), deflate-style canonical assignment
    (shorter codes first; ties in symbol order)."""
    max_len = max(lengths)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _PrefixCode:
    """Decoding table for one canonical prefix code. A single-symbol
    code is the spec's zero-bit special case (reads consume nothing)."""

    __slots__ = ("single", "table", "max_len")

    def __init__(self, lengths: list[int], single_symbol: int | None = None):
        if single_symbol is not None:
            self.single = single_symbol
            self.table = {}
            self.max_len = 0
            return
        used = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if not used:
            raise ValueError("empty prefix code")
        if len(used) == 1:
            self.single = used[0][0]
            self.table = {}
            self.max_len = 0
            return
        # completeness (Kraft sum == 1): required for multi-symbol
        # codes — an over- or under-full code is a corrupt stream
        kraft = sum(1 << (15 - ln) for _, ln in used)
        if kraft != (1 << 15):
            raise ValueError("invalid (incomplete) prefix code")
        self.single = None
        codes = _canonical_codes(lengths)
        self.table = {(ln, code): sym for sym, (code, ln) in codes.items()}
        self.max_len = max(ln for _, ln in used)

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.bit()
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("bad prefix code in VP8L stream")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.bit():  # simple code: 1 or 2 symbols
        num_symbols = br.bit() + 1
        if br.bit():
            first = br.bits(8)
        else:
            first = br.bit()
        if num_symbols == 1:
            if first >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            return _PrefixCode([], single_symbol=first)
        second = br.bits(8)
        if first >= alphabet_size or second >= alphabet_size or first == second:
            raise ValueError("bad simple prefix code")
        lengths = [0] * alphabet_size
        lengths[first] = lengths[second] = 1
        return _PrefixCode(lengths)

    num_cl = 4 + br.bits(4)
    if num_cl > len(_CL_ORDER):
        raise ValueError("bad code-length count")
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.bits(3)
    cl_code = _PrefixCode(cl_lengths)

    if br.bit():
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
        if max_symbol > alphabet_size:
            raise ValueError("max_symbol exceeds alphabet")
    else:
        max_symbol = alphabet_size

    lengths = [0] * alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        else:
            if cl == 16:
                repeat, val = 3 + br.bits(2), prev_len
            elif cl == 17:
                repeat, val = 3 + br.bits(3), 0
            else:
                repeat, val = 11 + br.bits(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("code-length repeat overruns alphabet")
            for _ in range(repeat):
                lengths[symbol] = val
                symbol += 1
    return _PrefixCode(lengths)


def _prefix_coded_value(br: _BitReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (value is 1-based)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _plane_distance(dist_code: int, xsize: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    dx, dy = _DIST_MAP[dist_code - 1]
    d = dx + dy * xsize
    return d if d >= 1 else 1


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_entropy_coded(
    br: _BitReader, w: int, h: int, *, allow_meta: bool
) -> list[int]:
    """The spatially-coded pixel plane at (w, h) as a flat ARGB list —
    prefix-code groups, optional color cache, optional meta-prefix
    image (main plane only), literals + LZ77 + cache references."""
    cache_bits = 0
    if br.bit():
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"bad color-cache bits {cache_bits}")

    meta = None
    meta_w = 0
    hbits = 0
    num_groups = 1
    if allow_meta and br.bit():
        hbits = br.bits(3) + 2
        meta_w = _subsample_size(w, hbits)
        meta_h = _subsample_size(h, hbits)
        meta_px = _decode_entropy_coded(br, meta_w, meta_h, allow_meta=False)
        meta = [(px >> 8) & 0xFFFF for px in meta_px]
        num_groups = max(meta) + 1

    green_alpha = _NUM_LIT + _NUM_LENGTH + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, _NUM_LIT),  # red
                _read_prefix_code(br, _NUM_LIT),  # blue
                _read_prefix_code(br, _NUM_LIT),  # alpha
                _read_prefix_code(br, _NUM_DIST),
            )
        )

    n = w * h
    argb: list[int] = [0] * n
    cache = [0] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    group = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            group = groups[meta[(y >> hbits) * meta_w + (x >> hbits)]]
        g_code, r_code, b_code, a_code, d_code = group
        sym = g_code.read(br)
        if sym < _NUM_LIT:
            red = r_code.read(br)
            blue = b_code.read(br)
            alpha = a_code.read(br)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            argb[pos] = px
            pos += 1
            if cache is not None:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
        elif sym < _NUM_LIT + _NUM_LENGTH:
            length = _prefix_coded_value(br, sym - _NUM_LIT)
            dist_code = _prefix_coded_value(br, d_code.read(br))
            dist = _plane_distance(dist_code, w)
            if dist > pos or pos + length > n:
                raise ValueError("backward reference out of range")
            for _ in range(length):
                px = argb[pos - dist]
                argb[pos] = px
                pos += 1
                if cache is not None:
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
        else:
            if cache is None:
                raise ValueError("cache reference without a color cache")
            idx = sym - (_NUM_LIT + _NUM_LENGTH)
            px = cache[idx]
            argb[pos] = px
            pos += 1
    return argb


# --- inverse transforms ----------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((((a & 0xFF) + (b & 0xFF)) >> 1))
    )


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _add_pixels(px: int, pred: int) -> int:
    """Per-channel mod-256 add of residual and prediction."""
    return (
        ((((px >> 24) + (pred >> 24)) & 0xFF) << 24)
        | ((((px >> 16) + (pred >> 16)) & 0xFF) << 16)
        | ((((px >> 8) + (pred >> 8)) & 0xFF) << 8)
        | (((px + pred) & 0xFF))
    )


def _select(left: int, top: int, topleft: int) -> int:
    p_l = p_t = 0
    for sh in (24, 16, 8, 0):
        lc = (left >> sh) & 0xFF
        tc = (top >> sh) & 0xFF
        tlc = (topleft >> sh) & 0xFF
        pred = lc + tc - tlc
        p_l += abs(pred - lc)
        p_t += abs(pred - tc)
    return left if p_l < p_t else top


def _clamp_add_sub_full(left: int, top: int, topleft: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= _clamp(
            ((left >> sh) & 0xFF) + ((top >> sh) & 0xFF) - ((topleft >> sh) & 0xFF)
        ) << sh
    return out


def _clamp_add_sub_half(avg: int, topleft: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (avg >> sh) & 0xFF
        b = (topleft >> sh) & 0xFF
        out |= _clamp(a + int((a - b) / 2)) << sh
    return out


def _predict(mode: int, argb: list[int], pos: int, w: int) -> int:
    left = argb[pos - 1]
    top = argb[pos - w]
    topleft = argb[pos - w - 1]
    topright = argb[pos - w + 1]  # at x==w-1 this is (0, y): spec scan order
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return topright
    if mode == 4:
        return topleft
    if mode == 5:
        return _avg2(_avg2(left, topright), top)
    if mode == 6:
        return _avg2(left, topleft)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(topleft, top)
    if mode == 9:
        return _avg2(top, topright)
    if mode == 10:
        return _avg2(_avg2(left, topleft), _avg2(top, topright))
    if mode == 11:
        return _select(left, top, topleft)
    if mode == 12:
        return _clamp_add_sub_full(left, top, topleft)
    if mode == 13:
        return _clamp_add_sub_half(_avg2(left, top), topleft)
    raise ValueError(f"bad predictor mode {mode}")


def _inverse_predictor(
    argb: list[int], w: int, h: int, size_bits: int, sub: list[int]
) -> None:
    sub_w = _subsample_size(w, size_bits)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = argb[pos - 1]  # top row: left
        elif x == 0:
            pred = argb[pos - w]  # left column: top
        else:
            mode = (sub[(y >> size_bits) * sub_w + (x >> size_bits)] >> 8) & 0xFF
            if mode > 13:
                raise ValueError(f"bad predictor mode {mode}")
            pred = _predict(mode, argb, pos, w)
        argb[pos] = _add_pixels(argb[pos], pred)


def _ct_delta(t: int, c: int) -> int:
    """Signed 3.5 fixed-point cross-channel delta: both the transform
    coefficient and the channel value are interpreted as int8."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _inverse_color_transform(
    argb: list[int], w: int, h: int, size_bits: int, sub: list[int]
) -> None:
    sub_w = _subsample_size(w, size_bits)
    for pos in range(w * h):
        x, y = pos % w, pos // w
        cte = sub[(y >> size_bits) * sub_w + (x >> size_bits)]
        g2r = cte & 0xFF  # stored in the blue channel
        g2b = (cte >> 8) & 0xFF  # green channel
        r2b = (cte >> 16) & 0xFF  # red channel
        px = argb[pos]
        green = (px >> 8) & 0xFF
        red = ((px >> 16) & 0xFF) + _ct_delta(g2r, green) & 0xFF
        blue = ((px & 0xFF) + _ct_delta(g2b, green) + _ct_delta(r2b, red)) & 0xFF
        argb[pos] = (px & 0xFF00FF00) | (red << 16) | blue


def _inverse_subtract_green(argb: list[int]) -> None:
    for i, px in enumerate(argb):
        g = (px >> 8) & 0xFF
        r = ((px >> 16) + g) & 0xFF
        b = (px + g) & 0xFF
        argb[i] = (px & 0xFF00FF00) | (r << 16) | b


def _index_width_bits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


def _inverse_color_index(
    argb: list[int], w: int, h: int, palette: list[int]
) -> list[int]:
    """Unbundle sub-byte indices (when the palette is small) and map
    through the palette; out-of-range indices decode to 0 per spec."""
    wbits = _index_width_bits(len(palette))
    if wbits == 0:
        return [
            palette[(px >> 8) & 0xFF] if ((px >> 8) & 0xFF) < len(palette) else 0
            for px in argb
        ]
    packed_w = _subsample_size(w, wbits)
    per = 1 << wbits  # pixels bundled per packed pixel
    bpp = 8 >> wbits  # bits per index
    mask = (1 << bpp) - 1
    out = [0] * (w * h)
    for y in range(h):
        row = y * packed_w
        for x in range(w):
            px = argb[row + (x >> wbits)]
            idx = ((px >> 8) >> ((x % per) * bpp)) & mask
            out[y * w + x] = palette[idx] if idx < len(palette) else 0
    return out


def _decode_vp8l(data: bytes) -> tuple[int, int, int, bytes]:
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _BitReader(data, 8)
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    alpha_used = br.bit()
    version = br.bits(3)
    if version != 0:
        raise ValueError(f"unsupported VP8L version {version}")
    budget = min(_MAX_PIXELS, max(_BOMB_FLOOR_PIXELS, len(data) * _BOMB_PIXELS_PER_BYTE))
    if w * h > budget:
        raise ValueError(
            f"implausible VP8L dimensions {w}x{h} for a {len(data)}-byte "
            f"stream (> {budget} px decompression budget)"
        )

    # transforms, read in bitstream order; each shrinks/annotates the
    # working width for everything read after it
    transforms: list[tuple] = []
    seen = set()
    cur_w = w
    while br.bit():
        ttype = br.bits(2)
        if ttype in seen:
            raise ValueError(f"duplicate transform {ttype}")
        seen.add(ttype)
        if ttype == _T_SUBTRACT_GREEN:
            transforms.append((ttype,))
        elif ttype in (_T_PREDICTOR, _T_COLOR):
            size_bits = br.bits(3) + 2
            sub = _decode_entropy_coded(
                br,
                _subsample_size(cur_w, size_bits),
                _subsample_size(h, size_bits),
                allow_meta=False,
            )
            transforms.append((ttype, cur_w, size_bits, sub))
        elif ttype == _T_COLOR_INDEX:
            n_colors = br.bits(8) + 1
            deltas = _decode_entropy_coded(br, n_colors, 1, allow_meta=False)
            palette = []
            prev = 0
            for d in deltas:  # palette is component-wise delta-coded
                prev = _add_pixels(d, prev)
                palette.append(prev)
            transforms.append((ttype, cur_w, palette))
            cur_w = _subsample_size(cur_w, _index_width_bits(n_colors))

    argb = _decode_entropy_coded(br, cur_w, h, allow_meta=True)

    for t in reversed(transforms):
        if t[0] == _T_SUBTRACT_GREEN:
            _inverse_subtract_green(argb)
        elif t[0] == _T_PREDICTOR:
            _inverse_predictor(argb, t[1], h, t[2], t[3])
        elif t[0] == _T_COLOR:
            _inverse_color_transform(argb, t[1], h, t[2], t[3])
        else:
            argb = _inverse_color_index(argb, t[1], h, t[2])

    channels = 4 if alpha_used else 3
    out = bytearray(w * h * channels)
    o = 0
    for px in argb:
        out[o] = (px >> 16) & 0xFF
        out[o + 1] = (px >> 8) & 0xFF
        out[o + 2] = px & 0xFF
        if channels == 4:
            out[o + 3] = (px >> 24) & 0xFF
        o += channels
    return w, h, channels, bytes(out)


def decode_webp(data: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, packed RGB/RGBA pixels) for a lossless
    (VP8L) WebP; ValueError for lossy/corrupt/unsupported payloads."""
    try:
        return _decode_webp_strict(data)
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError, OverflowError) as exc:
        raise ValueError(f"corrupt WebP: {exc!r}") from exc


def _decode_webp_strict(data: bytes) -> tuple[int, int, int, bytes]:
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (bad RIFF header)")
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8 : pos + 8 + size]
        if len(payload) < size:
            raise ValueError("truncated WebP chunk")
        if fourcc == b"VP8L":
            return _decode_vp8l(payload)
        if fourcc == b"VP8 ":
            raise ValueError("lossy WebP (VP8) unsupported — VP8L only")
        # VP8X / ALPH / ICCP / EXIF / ANIM ...: keep scanning for VP8L
        pos += 8 + size + (size & 1)  # chunks pad to even size
    raise ValueError("no VP8L chunk in WebP container")


def parse_webp_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the container header alone — VP8L stream
    header, VP8X canvas fields, or the VP8 lossy frame tag; None when
    unrecognized. Header-math only, no decode."""
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L" and len(body) >= 5 and body[0] == 0x2F:
            b = body[1:5]
            w = 1 + (b[0] | ((b[1] & 0x3F) << 8))
            h = 1 + ((b[1] >> 6) | (b[2] << 2) | ((b[3] & 0x0F) << 10))
            return w, h
        if fourcc == b"VP8X" and len(body) >= 10:
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
            return w, h
        if fourcc == b"VP8 " and len(body) >= 10:
            if body[3:6] != b"\x9d\x01\x2a":
                return None
            w = int.from_bytes(body[6:8], "little") & 0x3FFF
            h = int.from_bytes(body[8:10], "little") & 0x3FFF
            return w, h
        pos += 8 + size + (size & 1)
    return None
