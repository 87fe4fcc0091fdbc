"""Native JPEG decode via a lazily-compiled libjpeg(-turbo) shim — the
PRODUCTION decode path for the MP4/AVI motion-JPEG frame walks and the
still-image dispatch (VERDICT r12 "next round" #2).

Same seam pattern as ``webp_ffi`` (native → vendored), but
libjpeg's classic API cannot be bound with raw ctypes (error handling
is setjmp/longjmp in the caller's native frame, and the library
size-checks the caller's compile-time struct layout), so the binding
compiles the 1-function C shim ``_jpeg_shim.c`` against the system
``jpeglib.h`` the first time it is needed:

- the build is ONE ``cc -O2 -shared -fPIC ... -ljpeg`` invocation,
  cached in the system temp dir keyed by the md5 of the shim source
  (executor workers on one host compile once and share; concurrent
  builders race benignly through an atomic ``os.replace``);
- no compiler, no ``jpeglib.h``, no ``libjpeg.so`` → ``available()``
  is False and every caller keeps the vendored pure-Python
  ``jpeg_codec`` exactly as before — the same dependency-free CI
  fallback contract the WebP path has.

Why it matters at 100 TB: the vendored entropy decode is the constant
factor behind the registry's one perf-weak row (``video_frame_stats_
mp4``, 18.8x the closed-form oracle at sf3); libjpeg-turbo decodes the
same frames in native SIMD code. For the ORACLE-gated solid-block
class (DC-only blocks) the two decoders are BIT-IDENTICAL — libjpeg's
integer islow IDCT and the vendored float64 IDCT both land within the
DC quantization error (< 0.5/px) of the true value, so both round to
the same byte; ``tests/test_av_codecs.py`` pins native == vendored
exhaustively over all 256 solid values. General (AC-bearing) content
may differ per-pixel by ±1 between conforming IDCTs — callers that pin
vendored-exact bytes (resize md5 tests) call the vendored codec
directly, never this module.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_MAX_PIXELS = 64 << 20  # same decode-side bound as jpeg/webp codecs

_SHIM_SRC = os.path.join(os.path.dirname(__file__), "_jpeg_shim.c")
_LIB: ctypes.CDLL | None = None
_LIB_TRIED = False


def _cache_dir() -> str | None:
    """Per-uid 0700 cache dir for the compiled shim. The .so is
    ctypes-loaded into every executor, so the path must not be
    hijackable: a predictable name in the world-writable system temp
    dir would let another local user pre-plant a malicious library at
    the expected path. Owner + mode are verified after creation; any
    doubt returns None (caller treats the shim as unavailable)."""
    d = os.path.join(tempfile.gettempdir(), f"adl-jpeg-cache-{os.getuid()}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.stat(d)
        if st.st_uid != os.getuid() or (st.st_mode & 0o022):
            return None  # squatted or group/world-writable: refuse
    except OSError:
        return None
    return d


def _build_shim() -> str | None:
    """Compile (or reuse) the shim .so; None when this host can't.
    Cache key = md5 of the C source, so editing the shim rebuilds and
    stale caches from older revisions are never picked up."""
    try:
        with open(_SHIM_SRC, "rb") as f:
            src = f.read()
    except OSError:
        return None
    cache = _cache_dir()
    if cache is None:
        return None
    tag = hashlib.md5(src).hexdigest()[:12]
    out = os.path.join(cache, f"adl_jpeg_shim_{tag}.so")
    if os.path.exists(out):
        return out
    tmp = f"{out}.{os.getpid()}.tmp"
    for cc in ("cc", "gcc", "clang"):
        try:
            r = subprocess.run(
                [cc, "-O2", "-shared", "-fPIC", _SHIM_SRC, "-o", tmp, "-ljpeg"],
                capture_output=True,
                timeout=120,
            )
        except (OSError, subprocess.TimeoutExpired):
            continue
        if r.returncode == 0:
            os.replace(tmp, out)  # atomic: concurrent builders race safely
            return out
    try:
        os.unlink(tmp)
    except OSError:
        pass
    return None


def _lib() -> ctypes.CDLL | None:
    global _LIB, _LIB_TRIED
    if _LIB_TRIED:
        return _LIB
    _LIB_TRIED = True
    path = _build_shim()
    if path is None:
        return None
    try:
        lib = ctypes.CDLL(path)
        fn = lib.adl_jpeg_decode_rgb
        enc = lib.adl_jpeg_encode_rgb
        rel = lib.adl_jpeg_free
        encb = lib.adl_jpeg_encode_batch
        decb = lib.adl_jpeg_decode_batch
    except (OSError, AttributeError):
        return None
    fn.restype = ctypes.c_int
    fn.argtypes = [
        ctypes.c_char_p,
        ctypes.c_ulong,
        ctypes.c_char_p,
        ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.c_int),
        ctypes.c_char_p,
        ctypes.c_size_t,
    ]
    enc.restype = ctypes.c_int
    enc.argtypes = [
        ctypes.c_char_p,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
        ctypes.POINTER(ctypes.c_ulong),
        ctypes.c_char_p,
        ctypes.c_size_t,
    ]
    rel.restype = None
    rel.argtypes = [ctypes.POINTER(ctypes.c_ubyte)]
    encb.restype = ctypes.c_int
    encb.argtypes = [
        ctypes.c_char_p,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_char_p,
        ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_ulong),
        ctypes.c_char_p,
        ctypes.c_size_t,
    ]
    decb.restype = ctypes.c_int
    decb.argtypes = [
        ctypes.c_char_p,
        ctypes.POINTER(ctypes.c_ulong),
        ctypes.POINTER(ctypes.c_ulong),
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_char_p,
        ctypes.c_char_p,
        ctypes.c_size_t,
    ]
    _LIB = lib
    return _LIB


def available() -> bool:
    """True when the shim compiled and loaded (decided once, cached —
    safe to call per frame). ``video_frame_stats_mp4(use_native=False)``
    pins the vendored codec inside executor workers for its parity
    test; a module-global pin leaked to concurrent tasks in reused
    workers (r13 ADVICE)."""
    return _lib() is not None


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, 3, packed RGB pixels) via libjpeg. Broader than
    the vendored codec (progressive, subsampled, restart markers all
    decode); ValueError for anything libjpeg refuses or implausible
    dims (bounded BEFORE allocation); RuntimeError when the shim is
    unavailable (callers check ``available()``)."""
    lib = _lib()
    if lib is None:
        raise RuntimeError("no libjpeg shim available")
    w, h = ctypes.c_int(), ctypes.c_int()
    err = ctypes.create_string_buffer(200)
    # two-call protocol: probe dims with zero capacity, bound, decode
    rc = lib.adl_jpeg_decode_rgb(data, len(data), None, 0, w, h, err, 200)
    if rc == -1:
        raise ValueError(f"libjpeg: {err.value.decode(errors='replace')}")
    if w.value <= 0 or h.value <= 0 or w.value * h.value > _MAX_PIXELS:
        raise ValueError(
            f"implausible JPEG dimensions {w.value}x{h.value} "
            f"(> {_MAX_PIXELS} px)"
        )
    out = ctypes.create_string_buffer(w.value * h.value * 3)
    rc = lib.adl_jpeg_decode_rgb(
        data, len(data), out, len(out), w, h, err, 200
    )
    if rc != 0:
        # includes -3 (decoded-with-corruption-warnings): STRICT by
        # contract — the vendored codec refuses truncated/resynced
        # streams, and the corrupt->stand-in fallback path must not
        # depend on which decoder the host has
        raise ValueError(f"libjpeg: {err.value.decode(errors='replace')}")
    return w.value, h.value, 3, out.raw


def encode_jpeg(
    pixels: bytes, width: int, height: int, channels: int = 3, quality: int = 90
) -> bytes:
    """Baseline 4:4:4 JPEG at ``quality`` via libjpeg — the native
    twin of ``jpeg_codec.encode_jpeg`` (same stream class: no
    subsampling, Annex-K-scaled tables at the same quality formula, so
    DC-only solid blocks stay value-exact through any conforming
    decoder — the video_frame_stats_mp4 oracle premise, pinned in
    tests/test_av_codecs.py). RGB only; ValueError on shape mismatch;
    RuntimeError when the shim is unavailable."""
    lib = _lib()
    if lib is None:
        raise RuntimeError("no libjpeg shim available")
    if channels != 3:
        raise ValueError("native encode_jpeg is RGB-only (channels=3)")
    if len(pixels) != width * height * 3:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, want {width * height * 3}"
        )
    out = ctypes.POINTER(ctypes.c_ubyte)()
    outlen = ctypes.c_ulong()
    err = ctypes.create_string_buffer(200)
    rc = lib.adl_jpeg_encode_rgb(
        pixels, width, height, quality,
        ctypes.byref(out), ctypes.byref(outlen), err, 200,
    )
    if rc != 0:
        raise ValueError(f"libjpeg: {err.value.decode(errors='replace')}")
    try:
        return ctypes.string_at(out, outlen.value)
    finally:
        lib.adl_jpeg_free(out)


def encode_jpeg_batch(frames, quality: int = 90):
    """Encode a C-contiguous uint8 array of shape (n, h, w, 3) — ONE
    ctypes call for the whole Arrow batch — returning (concatenated
    JPEG bytes, numpy int64 sizes per frame). Same 4:4:4 stream class
    as ``encode_jpeg``; the per-call Python marshal (~16 us/frame) was
    the dominant cost of per-frame native encoding at batch scale."""
    import numpy as np

    lib = _lib()
    if lib is None:
        raise RuntimeError("no libjpeg shim available")
    frames = np.ascontiguousarray(frames, dtype=np.uint8)
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError(f"want (n, h, w, 3) uint8, got {frames.shape}")
    n, h, w, _ = frames.shape
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # High-entropy frames at high quality can exceed raw size (a
    # baseline-JPEG stream has no size guarantee), so -2 (out_cap too
    # small) grows the buffer and retries the whole batch; 8x raw +
    # per-frame overhead is past any conforming encoder's worst case,
    # so a -2 there is a shim bug, not an input property.
    out_cap = n * (w * h * 3 + 1024)
    sizes = np.zeros(n, dtype=np.uint64)
    err = ctypes.create_string_buffer(200)
    while True:
        # np.empty, not create_string_buffer: no zero-fill of a buffer
        # the C side overwrites anyway (tens of MB per Arrow batch)
        out = np.empty(out_cap, dtype=np.uint8)
        rc = lib.adl_jpeg_encode_batch(
            frames.ctypes.data_as(ctypes.c_char_p),
            n, w, h, quality,
            out.ctypes.data_as(ctypes.c_char_p), out_cap,
            sizes.ctypes.data_as(ctypes.POINTER(ctypes.c_ulong)),
            err, 200,
        )
        if rc == -2 and out_cap < n * (8 * w * h * 3 + 1024):
            out_cap *= 2
            continue
        break
    if rc != 0:
        raise ValueError(f"libjpeg batch encode: {err.value.decode(errors='replace')}")
    sz = sizes.astype(np.int64)
    return out[: int(sz.sum())].tobytes(), sz


def decode_jpeg_batch(data: bytes, offsets, sizes, width: int, height: int):
    """Decode n JPEGs (byte ranges of ``data``), each required to be
    exactly width x height RGB, in ONE ctypes call; returns a uint8
    array of shape (n, height, width, 3). Strict (corruption warnings
    fail the batch) like ``decode_jpeg``."""
    import numpy as np

    lib = _lib()
    if lib is None:
        raise RuntimeError("no libjpeg shim available")
    offs = np.ascontiguousarray(offsets, dtype=np.uint64)
    szs = np.ascontiguousarray(sizes, dtype=np.uint64)
    n = len(offs)
    if len(szs) != n:
        raise ValueError("offsets/sizes length mismatch")
    if n == 0:
        return np.zeros((0, height, width, 3), dtype=np.uint8)
    if (offs + szs).max() > len(data):
        raise ValueError("frame range extends past end of buffer")
    out = np.empty((n, height, width, 3), dtype=np.uint8)
    err = ctypes.create_string_buffer(200)
    rc = lib.adl_jpeg_decode_batch(
        data,
        offs.ctypes.data_as(ctypes.POINTER(ctypes.c_ulong)),
        szs.ctypes.data_as(ctypes.POINTER(ctypes.c_ulong)),
        n, width, height,
        out.ctypes.data_as(ctypes.c_char_p),
        err, 200,
    )
    if rc != 0:
        raise ValueError(f"libjpeg batch decode: {err.value.decode(errors='replace')}")
    return out


__all__ = [
    "available",
    "decode_jpeg",
    "decode_jpeg_batch",
    "encode_jpeg",
    "encode_jpeg_batch",
]
