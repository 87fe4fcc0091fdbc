"""Multimodal column plumbing: image/audio/video payloads as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` feature extractors.

The container has no media libraries (no Pillow/ffmpeg/torchaudio).
PNG, baseline-JPEG, GIF, and BMP payloads — four of the reference
uploader's five accepted image formats — still take a REAL decode →
resize → re-encode path via the vendored pure-stdlib codecs
(``png_codec`` — zlib inflate, scanline unfilter, deterministic
re-encode; ``jpeg_codec`` — Huffman entropy decode, dequantize, IDCT;
``gif_codec`` — LZW decode over the color table; ``bmp_codec`` —
BGR(A) row unpack; ``webp_codec`` — VP8L prefix-code + transform
decode), all exercised in CI, covering every format the reference
uploader accepts. WebP payloads prefer the system libwebp via ctypes
(``webp_ffi``) when present — native-speed decode of lossy VP8 AND
lossless VP8L. Pillow is never consulted, even where it is installed:
one decode chain on every executor keeps the resized bytes independent
of which host ran the task. Audio and video are real
too (round 11): WAV decodes via the vendored ``wav_codec``
(PCM8/16/float32 + linear resample), AVI video frames extract via the
vendored ``avi_codec`` (uncompressed DIB + MJPEG through
``jpeg_codec``), and MP4 headers parse via ``mp4_meta`` — each with
its own oracle-gated registry row (``audio_wav_features``,
``video_frame_stats``) that value-checks the REAL decode roundtrip
against DuckDB. Only codec-stack formats (mp3/aac, h264/h265) fall
back to the deterministic md5-derived stand-ins, so the Arrow
plumbing — the binary column, the metadata struct, the mapInPandas
batch shape, the output schema, the partitioning — is identical
whichever branch runs.

Scale notes (100 TB):
- payloads travel as Arrow binary batches; the Python worker sees
  ``pandas.Series[bytes]`` per batch, never a row at a time;
- feature extraction is embarrassingly parallel — no shuffle; output
  partitioning inherits the scan;
- metadata-only ops (kind inference, frame-index sampling, resize
  planning) stay JVM-side as column expressions; only byte-level work
  crosses to Python.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ad_data_lake_spark.functions.creative import infer_asset_kind

MIMES = ("image/jpeg", "image/png", "video/mp4", "audio/wav")

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len bigint, payload_md5 string, kind string, "
    "f0 double, f1 double, f2 double, f3 double"
)


def parse_image_dims(payload: bytes) -> tuple[int, int] | None:
    """Dependency-free image HEADER parse → (width, height), or None
    for unrecognized bytes. Covers the three classic container formats
    (PNG IHDR, GIF logical-screen descriptor, JPEG SOF0/1/2 markers) —
    the header fields are stable public specs, so the hot-path dims
    read needs no media library at all. Full pixel decode is
    ``decode_asset_bytes``."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        return (
            int.from_bytes(payload[16:20], "big"),
            int.from_bytes(payload[20:24], "big"),
        )
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        return (
            int.from_bytes(payload[6:8], "little"),
            int.from_bytes(payload[8:10], "little"),
        )
    if payload[:2] == b"BM" and len(payload) >= 26:  # BITMAPINFOHEADER dims
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        return (w, abs(h)) if w > 0 and h != 0 else None
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from ad_data_lake_spark.llm import webp_codec

        return webp_codec.parse_webp_dims(payload)
    if payload[:2] == b"\xff\xd8":  # JPEG: scan segments for a SOF marker
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2: [len p h(2) w(2)]
                return (
                    int.from_bytes(payload[i + 7 : i + 9], "big"),
                    int.from_bytes(payload[i + 5 : i + 7], "big"),
                )
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length field
            else:
                i += 2 + int.from_bytes(payload[i + 2 : i + 4], "big")
        return None
    return None


def decode_asset_bytes(payload: bytes, mime: str, deterministic: bool = False):
    """Decode an image payload. Dispatch order (pytest-pinned in
    test_llm_pipeline): **libwebp via ctypes** for WebP payloads
    (``webp_ffi`` —
    the production path: native-speed decode of BOTH lossy VP8 and
    lossless VP8L; the reference uploader accepts .webp, reference
    pages/2_Creative_Uploader.py:25) → the **vendored pure-stdlib
    codecs** (PNG: 8-bit RGB/RGBA; JPEG: baseline sequential
    4:4:4/grayscale; GIF; BMP; lossless WebP/VP8L), so the REAL decode
    branch runs in CI for ALL FIVE accepted formats even on a host
    with no media libraries at all. Returns a
    ``(width, height, channels, pixels)`` tuple.
    Audio payloads decode via ``decode_audio_bytes`` (vendored WAV
    codec), video frames via ``decode_video_frames`` (vendored AVI
    codec); only codec-stack formats (mp3/aac, h264) still raise
    ``NotImplementedError``."""
    if mime.startswith("image/"):
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            from ad_data_lake_spark.llm import webp_ffi

            if webp_ffi.available():
                # native path: a corrupt payload raises ValueError here
                # and must NOT fall through (the vendored codec would
                # just re-derive the same refusal, slower)
                return webp_ffi.decode_webp(payload)
        if payload[:2] == b"\xff\xd8" and not deterministic:
            # JPEG is the ONE format whose decode is decoder-variant
            # (conforming IDCTs differ ±1/px on AC content — WebP
            # VP8/VP8L reconstruction is spec-exact, PNG/GIF/BMP are
            # lossless), so byte-deterministic callers
            # (resize_image_bytes, whose re-encoded md5 must not
            # depend on which executor ran the task) pass
            # deterministic=True and keep the vendored float64 IDCT.
            from ad_data_lake_spark.llm import jpeg_ffi

            if jpeg_ffi.available():
                # native path widens coverage (progressive, subsampled
                # JPEGs the vendored codec refuses) at native speed; a
                # corrupt payload falls THROUGH to the vendored chain
                # so the malformed-payload contract (ValueError -> the
                # NotImplementedError stand-in fallback) is identical
                # with and without the shim
                try:
                    return jpeg_ffi.decode_jpeg(payload)
                except ValueError:
                    pass
        from ad_data_lake_spark.llm import (
            bmp_codec,
            gif_codec,
            jpeg_codec,
            png_codec,
            webp_codec,
        )

        for decode in (
            png_codec.decode_png,
            jpeg_codec.decode_jpeg,
            gif_codec.decode_gif,
            bmp_codec.decode_bmp,
            webp_codec.decode_webp,
        ):
            try:
                return decode(payload)
            except ValueError:
                continue  # not this format: try the next vendored codec
    raise NotImplementedError(
        "no decoder for this payload in this container (WebP decodes "
        "natively via libwebp-ctypes when present; PNG/baseline-JPEG/"
        "GIF/BMP/lossless-WebP via the vendored codecs; lossy WebP "
        "without libwebp and audio/video need native codecs); "
        "use fake_features() (deterministic stand-in)"
    )


def resize_image_bytes(payload: bytes, max_dim: int = 384) -> bytes:
    """Real aspect-preserving resize: decode (``decode_asset_bytes``:
    libwebp for WebP, else the vendored codecs), scale with the same
    integer ``resize_dims`` plan the stub path uses, re-encode as PNG. The vendored branch is
    byte-deterministic (fixed zlib level, nearest-neighbor floor
    resample, float64 IDCT with one final round), which is what lets
    the resized md5 be asserted in CI — and why this caller decodes
    with deterministic=True: the native JPEG path's integer IDCT
    differs ±1/px from the vendored float64 one on AC content, so a
    heterogeneous cluster (or a task retried on a shim-less executor)
    would otherwise emit different resized bytes for the same payload
    (r13 review)."""
    from ad_data_lake_spark.llm import png_codec

    w, h, channels, pixels = decode_asset_bytes(
        payload, "image/any", deterministic=True
    )
    out_w, out_h = resize_dims(w, h, max_dim)
    resized = png_codec.resize_nearest(pixels, w, h, out_w, out_h, channels)
    return png_codec.encode_png(resized, out_w, out_h, channels)


def fake_features(payload: bytes) -> tuple[str, list[float]]:
    """Deterministic stand-in for decoded-content features: the payload
    md5 plus 4 floats in [0,1) derived from its hex — reproducible by
    the DuckDB oracle, so the full plumbing is value-checked."""
    h = hashlib.md5(payload).hexdigest()
    feats = [round(int(h[8 * i : 8 * i + 8], 16) / 2**32, 6) for i in range(4)]
    return h, feats


def to_asset_table(documents: DataFrame) -> DataFrame:
    """Build the multimodal asset table from the documents fixture:
    payload = utf-8 bytes of the text (an opaque stand-in binary),
    typed metadata struct (mime, filename, n_bytes)."""
    mime = F.element_at(
        F.array(*[F.lit(m) for m in MIMES]), (F.col("doc_id") % 4 + 1).cast("int")
    )
    # deliberately NOT spread(): the rows ARE the payload bytes, so a
    # round-robin exchange moves the whole corpus to save a cheap md5 —
    # measured SLOWER at sf1 (0.71 -> 1.02 s). A deployment with a
    # genuinely expensive decode kernel would spread here.
    return documents.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.concat(F.lit("asset_"), F.col("doc_id"), F.lit(".bin")).alias("filename"),
            F.length(F.col("text")).alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas: per batch, compute byte length, content md5, asset
    kind, and the (stubbed) content features. The real decode call
    site is marked in the loop body."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, feats = [], []
            for payload in pdf["payload"]:
                b = bytes(payload)
                # Real pipeline: pixels = decode_asset_bytes(b, mime)
                # (stubbed — see module docstring); deterministic fake:
                h, f = fake_features(b)
                hashes.append(h)
                feats.append(f)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(bytes(p)) for p in pdf["payload"]],
                    "payload_md5": hashes,
                    "kind": pdf["kind"],
                }
            )
            for i in range(4):
                out[f"f{i}"] = [f[i] for f in feats]
            yield out

    with_kind = assets.select(
        "doc_id",
        "payload",
        infer_asset_kind(F.col("meta.mime"), F.col("meta.filename")).alias("kind"),
    )
    return with_kind.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZE_MAX_DIM = 384
RESIZE_SCHEMA = (
    "doc_id bigint, kind string, src_w bigint, src_h bigint, "
    "out_w bigint, out_h bigint, resized_md5 string"
)


def fake_dims(payload_md5: str) -> tuple[int, int]:
    """Deterministic stand-in for decoded image dimensions (the decode
    stub can't read real headers): md5-derived (w, h) in sensor-like
    ranges, reproducible by the DuckDB oracle."""
    return (
        256 + int(payload_md5[0:4], 16) % 1664,
        144 + int(payload_md5[4:8], 16) % 936,
    )


def resize_dims(w: int, h: int, max_dim: int = RESIZE_MAX_DIM) -> tuple[int, int]:
    """Aspect-preserving downscale plan in PURE INTEGER arithmetic
    (floor division) so both engines agree to the pixel; never
    upscales."""
    g = max(w, h)
    if g <= max_dim:
        return w, h
    return (w * max_dim) // g, (h * max_dim) // g


def resize_assets(
    assets: DataFrame, max_dim: int = RESIZE_MAX_DIM, real_decode: bool = False
) -> DataFrame:
    """Resize plumbing over binary payloads via mapInPandas: per Arrow
    batch, derive source dims, compute the aspect-preserving target
    dims, and emit the resized payload's md5. Same scale shape as
    ``extract_features``: embarrassingly parallel, no shuffle, metadata
    math identical JVM- or Python-side because it is integer-only.

    ``real_decode=False`` (the oracle-checked registered path) uses the
    md5-derived stand-in dims and resized-hash so DuckDB reproduces
    every value. ``real_decode=True`` header-parses actual image bytes
    for dims (``parse_image_dims``, no library needed; md5 fallback for
    unrecognized payloads) and hashes a genuinely re-encoded resize
    (``resize_image_bytes``) wherever the payload decodes."""
    with_kind = assets.select(
        "doc_id",
        "payload",
        infer_asset_kind(F.col("meta.mime"), F.col("meta.filename")).alias("kind"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, kind in zip(
                pdf["doc_id"], pdf["payload"], pdf["kind"]
            ):
                b = bytes(payload)
                h = hashlib.md5(b).hexdigest()
                dims = parse_image_dims(b) if real_decode else None
                src_w, src_h = dims if dims is not None else fake_dims(h)
                out_w, out_h = resize_dims(src_w, src_h, max_dim)
                resized_md5 = None
                if real_decode and dims is not None:
                    # real pixel path: libwebp for WebP, else the
                    # vendored PNG/JPEG/GIF/BMP/VP8L-WebP codecs;
                    # payloads none can decode (e.g. lossy WebP
                    # without libwebp) drop to the stand-in.
                    # ValueError = corrupt-but-signed payload (the codec
                    # maps zlib/struct/index errors onto it) — one bad
                    # byte stream must never kill the whole Arrow batch.
                    try:
                        resized_md5 = hashlib.md5(
                            resize_image_bytes(b, max_dim)
                        ).hexdigest()
                    except (NotImplementedError, ValueError):
                        pass
                if resized_md5 is None:
                    resized_md5 = hashlib.md5(
                        f"{h}:{out_w}x{out_h}".encode()
                    ).hexdigest()
                rows.append(
                    (doc_id, kind, src_w, src_h, out_w, out_h, resized_md5)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "kind",
                    "src_w",
                    "src_h",
                    "out_w",
                    "out_h",
                    "resized_md5",
                ],
            )

    return with_kind.mapInPandas(run, schema=RESIZE_SCHEMA)


def multimodal_resize(documents: DataFrame) -> DataFrame:
    """The registered resize query: documents → asset table → resize."""
    return resize_assets(to_asset_table(documents))


def sample_frame_indices(n_frames: Column, k: int = 3) -> Column:
    """Video frame-sampling plan: k evenly spaced frame indices out of
    ``n_frames`` — metadata-only, stays JVM-side; ``decode_video_frames``
    fetches exactly these frames. k=1 means "the first frame" (the
    even-spacing divide is k-1, which would be 0/NULL)."""
    if k <= 1:
        return F.array(F.lit(0).cast("long"))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: (i * (n_frames - 1) / (k - 1)).cast("long"),
    )


def sampled_indices(n_frames: int, k: int = 3) -> list[int]:
    """Python twin of ``sample_frame_indices`` (same double-divide +
    floor-to-long arithmetic; equivalence pytest-pinned) for use inside
    Arrow batch kernels."""
    if k <= 1:
        return [0]
    return [int(i * (n_frames - 1) / (k - 1)) for i in range(k)]


def decode_audio_bytes(payload: bytes):
    """Decode an audio payload → (sample_rate, channels, int16 samples
    (n_frames, channels)). WAV (PCM8/PCM16/float32) decodes for REAL
    via the vendored ``wav_codec`` — no media library needed; formats
    that genuinely need a native codec stack (mp3/aac/opus) raise
    NotImplementedError and the caller falls back to the deterministic
    stand-in, the same contract images had before their codecs were
    vendored."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        from ad_data_lake_spark.llm import wav_codec

        return wav_codec.decode_wav(payload)
    raise NotImplementedError(
        "no audio decoder for this payload (WAV decodes via the vendored "
        "wav_codec; mp3/aac/opus need soundfile); use fake_features()"
    )


def decode_video_frames(payload: bytes, k: int = 3):
    """Sample-then-decode for a video payload: k evenly spaced frames
    (``sampled_indices`` — the same plan ``sample_frame_indices``
    declares JVM-side), decoded to RGB. AVI containers decode for REAL
    via the vendored ``avi_codec`` (uncompressed DIB and MJPEG — the
    latter one vendored ``jpeg_codec`` call per frame); motion-JPEG
    MP4s decode for real via the ``mp4_meta`` stbl sample walk (each
    sample a baseline JPEG); MP4s carrying codec streams (h264/h265/
    av1) genuinely need a native stack — ``mp4_meta.parse_mp4_meta``
    still reads their duration/track/dims headers for real, but pixel
    decode raises NotImplementedError. Returns ((w, h, n_frames, fps,
    fourcc), [frame_idx...], [RGB arrays...]) — the index list is the
    RAW sampling plan, exactly what ``sample_frame_indices`` emits
    JVM-side (when ``n_frames < k`` the plan repeats indices; repeats
    are decoded once but EMITTED per plan entry, so length and ranking
    always match the JVM twin). MP4 frames decode through libjpeg when
    ``jpeg_ffi.available()``, the vendored ``jpeg_codec`` otherwise;
    the AVI path is always vendored."""
    from ad_data_lake_spark.llm import avi_codec, mp4_meta

    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        meta = avi_codec.parse_avi_meta(payload)
        idx = sampled_indices(meta[2], k)
        uniq = sorted(set(idx))
        _meta, frames = avi_codec.decode_avi_frames(payload, uniq)
        by_idx = dict(zip(uniq, frames))
        return meta, idx, [by_idx[i] for i in idx]
    if len(payload) >= 12 and payload[4:8] in (b"ftyp", b"styp"):
        try:
            info = mp4_meta.parse_mp4_samples(payload)
        except ValueError:
            # no walkable sample tables — if the moov still names a
            # codec-stack video track (h264/h265/av1...), that is the
            # "needs a native stack" case, not corruption: keep the
            # NotImplementedError → stand-in contract for it
            meta = mp4_meta.parse_mp4_meta(payload)
            codecs = [
                t["codec"] for t in meta["tracks"] if t["handler"] == "vide"
            ]
            if codecs and codecs[0] not in ("jpeg", "mjpa"):
                raise NotImplementedError(
                    f"mp4 pixel decode for codec {codecs[0]!r} needs a "
                    "native stack (PyAV); metadata parsed for real"
                ) from None
            raise
        idx = sampled_indices(info["n_samples"], k)
        uniq = sorted(set(idx))
        meta_t, frames = mp4_meta.decode_mp4_frames(payload, uniq, info=info)
        by_idx = dict(zip(uniq, frames))
        return meta_t, idx, [by_idx[i] for i in idx]
    raise NotImplementedError(
        "no video frame decoder for this payload (AVI DIB/MJPEG and "
        "motion-JPEG MP4 decode via the vendored codecs; h264/h265/av1 "
        "pixels need PyAV — their METADATA parses via "
        "mp4_meta.parse_mp4_meta)"
    )


def multimodal_features(documents: DataFrame) -> DataFrame:
    """The registered end-to-end query: documents → asset table →
    mapInPandas feature extraction."""
    return extract_features(to_asset_table(documents))


def streaming_multimodal_features(spark, sf_dir: str) -> DataFrame:
    """The multimodal feature extractor running UNDER Structured
    Streaming — binary asset payloads arriving as a stream, features
    extracted in-flight by the SAME Arrow pass the batch operator uses
    (stateless mapInPandas: the streaming plan is the batch plan per
    micro-batch, no state store, no watermark). This is the ingest
    shape a 100 TB media pipeline actually runs — decode/fingerprint
    on arrival, not in a nightly sweep — and the oracle is the batch
    feature SQL, so the hash match proves in-flight extraction emits
    byte-identical output to the batch pass (the same batch-equivalence
    contract as ``streaming_rare_token_scrub``)."""
    import os
    import uuid

    from ad_data_lake_spark.operators.lake_queries import _stream_src_write
    from ad_data_lake_spark.scratch import scratch_dir
    from ad_data_lake_spark.sources.tables import load_table
    from ad_data_lake_spark.streaming.incremental import run_available_now

    assets = to_asset_table(load_table(spark, "documents", sf_dir))
    src = os.path.join(scratch_dir(spark, "mm-stream-src", sf_dir), "assets")
    # the shared multi-file fixture writer: per-batch parallelism is
    # per-file for a file source, and test_stream_source_file_fanout
    # pins the fanout on this ONE helper — do not hand-roll the write
    _stream_src_write(assets, src)
    stream = spark.readStream.schema(assets.schema).parquet(src)
    return run_available_now(
        extract_features(stream),
        f"stream_mm_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# Real-decode audio/video registry rows. Both synthesize the container
# bytes DETERMINISTICALLY from each document's characters, run the real
# vendored decode path, and emit features of the DECODED samples/pixels
# — so the DuckDB oracle (which recomputes the same features straight
# from the char codes, never seeing a container) value-checks the
# encode → parse → decode roundtrip itself. A decoder that mis-reads
# the header, drops samples, mis-orders rows/channels, or extracts the
# wrong frame produces a hash mismatch at the driver gate.
# ---------------------------------------------------------------------------

AUDIO_SR = 16_000
AUDIO_MAX_SAMPLES = 256
VIDEO_W = VIDEO_H = 4  # row stride 4*3=12 bytes: already word-aligned
VIDEO_N_FRAMES = 8
VIDEO_SAMPLE_K = 3
_FRAME_PX = VIDEO_W * VIDEO_H * 3

AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, n_samples bigint, sample_rate bigint, duration_ms bigint, "
    "peak bigint, zcr bigint, rms double"
)


def audio_wav_features(documents: DataFrame) -> DataFrame:
    """REAL WAV decode, oracle-gated: per document, synthesize int16
    PCM samples from the first ``AUDIO_MAX_SAMPLES`` characters
    (``s_i = (ord(c_i)*997 + 131i) mod 65536 - 32768``), encode a real
    RIFF/WAVE payload, decode it back through ``wav_codec``, and
    compute the standard audio-curation features — duration, peak,
    zero-crossing rate, RMS energy — from the DECODED samples (the
    997 multiplier folds char codes across the int16 sign boundary so
    ZCR is non-degenerate). The
    oracle computes identical features from the char codes directly,
    so a hash match proves the PCM roundtrip bit-exactly (int16 PCM is
    lossless). Scale shape: one Arrow pass, bounded per-payload work,
    zero shuffle — identical to ``extract_features``."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ad_data_lake_spark.llm import wav_codec

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["t"]):
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                idx = np.arange(len(codes), dtype=np.int64)
                synth = ((codes * 997 + idx * 131) % 65536 - 32768).astype(np.int16)
                wav = wav_codec.encode_wav(synth, sample_rate=AUDIO_SR)
                sr, n_ch, dec = wav_codec.decode_wav(wav)  # REAL decode
                s = dec[:, 0].astype(np.int64)
                n = len(s)
                neg = s < 0
                zcr = int(np.count_nonzero(neg[1:] != neg[:-1]))
                rms = round(float(np.sqrt(float(np.sum(s * s)) / n)), 6)
                rows.append(
                    (
                        int(doc_id),
                        n,
                        sr,
                        n * 1000 // sr,
                        int(np.max(np.abs(s))),
                        zcr,
                        rms,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_samples",
                    "sample_rate",
                    "duration_ms",
                    "peak",
                    "zcr",
                    "rms",
                ],
            )

    from ad_data_lake_spark.sources.tables import spread

    # compute-bound Arrow kernel (a real container codec per row):
    # fan the narrow scan out to session parallelism — the fixtures
    # are single-row-group parquet, so an unspread scan would run the
    # whole codec pass on ONE core (tables.spread is a no-op when the
    # source already supplies enough splits, e.g. a production lake)
    src = spread(
        documents.where(F.length("text") >= 1).select(
            "doc_id", F.substring("text", 1, AUDIO_MAX_SAMPLES).alias("t")
        )
    )
    return src.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


VIDEO_STATS_SCHEMA = (
    "doc_id bigint, n_frames bigint, frame_rank bigint, frame_idx bigint, "
    "px_sum bigint, px_wsum bigint, mean_px double"
)


def video_frame_stats(documents: DataFrame) -> DataFrame:
    """REAL AVI frame extraction, oracle-gated: per document, build an
    8-frame 4x4 RGB video from the document's characters (pixel ``g``
    of the flattened RGB stream is ``(ord(c_{g mod len})*31 + g) mod
    256``), encode a real uncompressed-DIB AVI container, then run the
    production sample-then-decode path (``decode_video_frames`` —
    header parse, ``sample_frame_indices`` plan, movi walk, BGR
    bottom-up → RGB top-down unpack) and emit per-sampled-frame pixel
    stats. ``px_wsum`` (Σ position·value over the decoded RGB stream)
    is ORDER-SENSITIVE, so a decoder that flips rows, swaps channels,
    or fetches the wrong frame hash-mismatches at the driver gate even
    when the plain sum survives. Oracle: the same stats straight from
    char codes. Scale shape: one Arrow pass, zero shuffle."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ad_data_lake_spark.llm import avi_codec

        n_px = _FRAME_PX * VIDEO_N_FRAMES
        q = np.arange(_FRAME_PX, dtype=np.int64)
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                g = np.arange(n_px, dtype=np.int64)
                vals = ((codes[g % len(codes)] * 31 + g) % 256).astype(np.uint8)
                frames = [
                    vals[f * _FRAME_PX : (f + 1) * _FRAME_PX].reshape(
                        VIDEO_H, VIDEO_W, 3
                    )
                    for f in range(VIDEO_N_FRAMES)
                ]
                avi = avi_codec.encode_avi_dib(frames, fps=10)
                meta, idx, decoded = decode_video_frames(avi, VIDEO_SAMPLE_K)
                for rank, (fi, fr) in enumerate(zip(idx, decoded), start=1):
                    flat = fr.reshape(-1).astype(np.int64)
                    px_sum = int(flat.sum())
                    rows.append(
                        (
                            int(doc_id),
                            meta[2],
                            rank,
                            fi,
                            px_sum,
                            int(np.sum(q * flat)),
                            round(px_sum / float(_FRAME_PX), 6),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "frame_rank",
                    "frame_idx",
                    "px_sum",
                    "px_wsum",
                    "mean_px",
                ],
            )

    from ad_data_lake_spark.sources.tables import spread

    # same spread rationale as audio_wav_features: per-row container
    # encode+decode is compute-bound; never let it serialize onto the
    # input's split count
    src = spread(
        documents.where(F.length("text") >= 1).select("doc_id", "text")
    )
    return src.mapInPandas(run, schema=VIDEO_STATS_SCHEMA)


VIDEO_MP4_W = VIDEO_MP4_H = 16  # four 8x8 JPEG blocks per frame
VIDEO_MP4_N_FRAMES = 6
MP4_BLOCKS = ((0, 0), (0, 1), (1, 0), (1, 1))  # (block_y, block_x), raster
_MP4_FRAME_PX = VIDEO_MP4_W * VIDEO_MP4_H * 3


def mp4_block_wsum_weights() -> list[int]:
    """Per-block Σ(flattened-position) weights over a (16, 16, 3) RGB
    frame — the closed-form the oracle needs to recompute ``px_wsum``
    for block-solid frames (Σ g·v over a solid block is v·Σg). One
    Python source of truth: the registry interpolates THESE numbers
    into the DuckDB SQL, so the two sides cannot drift."""
    import numpy as np

    q = np.arange(_MP4_FRAME_PX, dtype=np.int64).reshape(
        VIDEO_MP4_H, VIDEO_MP4_W, 3
    )
    return [
        int(q[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8, :].sum())
        for by, bx in MP4_BLOCKS
    ]


def video_frame_stats_mp4(
    documents: DataFrame, use_native: bool | None = None
) -> DataFrame:
    """REAL MP4 frame extraction, oracle-gated — the motion-JPEG twin
    of ``video_frame_stats``: per document, build a 6-frame 16x16 RGB
    video of four SOLID 8x8 blocks per frame (block ``j = 4f + b`` has
    gray value ``(ord(c_{j mod len})*37 + 11j) mod 256``), encode a
    real ISO-BMFF motion-JPEG container
    (``mp4_meta.encode_mp4_from_samples_fast`` — one baseline JPEG per
    sample, spec-complete stsd/stts/stsc/stsz/stco), then run the
    production stbl sample walk (``mp4_meta.parse_mp4_samples``),
    decode the ``sampled_indices`` frames and emit per-sampled-frame
    pixel stats. Frames encode and decode in batches through
    ``jpeg_ffi`` (libjpeg) when its shim is up on the worker, through
    the vendored ``jpeg_codec`` otherwise; ``use_native`` pins that
    choice (None = by shim availability). Solid 8x8 blocks are the one
    pixel class baseline JPEG round-trips BIT-EXACTLY at the vendored
    quality (only the DC coefficient is non-zero; its max quantization
    error of q/2 = 1.5 shifts a pixel by at most 1.5/8 < 0.5, so the
    rounded output is exact — pinned exhaustively for all 256 values in
    test_av_codecs), which is what lets a SQL oracle recompute the
    decoded values straight from char codes. ``px_wsum``
    (Σ position·value) is order-sensitive at block granularity, so a
    decoder that flips rows/columns of blocks, mis-walks
    stsc/stsz/stco, or fetches the wrong sample hash-mismatches at the
    driver gate. Scale shape: one Arrow pass, bounded per-payload
    work, zero shuffle — and the Arrow exchange ships only what the
    frame generator READS: block ``j`` indexes ``codes[j % L]`` with
    ``j < 4·n_frames``, so the JVM projects ``substring(text, 1, 24)``
    + ``length(text)`` (~40 B/row) instead of the full document
    (~2.5 KB/row). After the native codec work shrank 25x (r13), the
    full-text Arrow transfer WAS the row's wall at sf3; pruning it is
    the same column-pruning discipline every 100 TB scan needs, and
    changes no semantics (``j % L`` only touches the first
    ``min(L, 24)`` characters)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ad_data_lake_spark.llm import jpeg_codec, jpeg_ffi, mp4_meta

        q = np.arange(_MP4_FRAME_PX, dtype=np.int64)
        cols = [
            "doc_id",
            "n_frames",
            "frame_rank",
            "frame_idx",
            "px_sum",
            "px_wsum",
            "mean_px",
        ]
        nf, K = VIDEO_MP4_N_FRAMES, VIDEO_SAMPLE_K
        plan = sampled_indices(nf, K)  # constant: every doc has nf samples
        uniq = sorted(set(plan))
        pos = [uniq.index(i) for i in plan]
        jidx = np.arange(4 * nf, dtype=np.int64)
        # worker-side decision (shim availability is per-host on a
        # heterogeneous cluster); use_native pins it for the parity
        # test — a driver-side mock would not survive the pickle into
        # the executor workers. Both modules expose the same batch
        # encode/decode pair: one C call each, or a per-frame loop.
        native = jpeg_ffi.available() if use_native is None else use_native
        codec = jpeg_ffi if native else jpeg_codec

        def frames_for(pdf: pd.DataFrame) -> "np.ndarray":
            """(nd, nf, H, W, 3) uint8 — the whole batch's frames in
            24 vectorized block assignments instead of 24 per DOC."""
            nd = len(pdf)
            codes = np.zeros((nd, 4 * nf), dtype=np.int64)
            for d, (p, L) in enumerate(zip(pdf["prefix"], pdf["text_len"])):
                c = np.frombuffer(p.encode("utf-32-le"), dtype="<u4").astype(
                    np.int64
                )
                codes[d] = c[jidx % int(L)]
            v = ((codes * 37 + 11 * jidx) % 256).astype(np.uint8)
            frames = np.zeros(
                (nd, nf, VIDEO_MP4_H, VIDEO_MP4_W, 3), dtype=np.uint8
            )
            for f in range(nf):
                for b, (by, bx) in enumerate(MP4_BLOCKS):
                    frames[
                        :, f, 8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8, :
                    ] = v[:, 4 * f + b, None, None, None]
            return frames

        # Sub-batch cap — measured, not guessed (32 parallel workers on
        # 1875 docs each): chunk 128 -> 0.26 s/worker, chunk 512 ->
        # 4.8 s/worker (18x). Big chunks stream multi-MB intermediates
        # (frames, encode buffer, int64 stats expansion) through DRAM
        # from all 32 workers at once and collapse on memory bandwidth;
        # 128 docs keeps each worker's working set (~4 MB) inside its
        # cache slice while still amortizing the ctypes call overhead
        # ~770 frames per C call.
        CHUNK = 128
        for pdf0 in batches:
            if len(pdf0) == 0:
                yield pd.DataFrame(columns=cols)
                continue
            chunks = (
                pdf0.iloc[lo : lo + CHUNK]
                for lo in range(0, len(pdf0), CHUNK)
            )
            for pdf in chunks:
                nd = len(pdf)
                doc_ids = pdf["doc_id"].to_numpy(np.int64)
                frames = frames_for(pdf)
                # ONE encode call for the batch's nd*nf frames, per-doc
                # container assembly via the byte-identical template
                # patch, the production stbl parse per container, and
                # ONE decode call for all sampled frames — the per-call
                # Python/ctypes marshal is what the sf10 measurement
                # showed dominating the per-frame form
                blob, sizes = codec.encode_jpeg_batch(
                    frames.reshape(-1, VIDEO_MP4_H, VIDEO_MP4_W, 3)
                )
                bounds = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
                concat = bytearray()
                offs_all = np.empty(nd * len(uniq), dtype=np.int64)
                sz_all = np.empty(nd * len(uniq), dtype=np.int64)
                k = 0
                for d in range(nd):
                    doc_samples = [
                        blob[bounds[nf * d + i] : bounds[nf * d + i + 1]]
                        for i in range(nf)
                    ]
                    payload = mp4_meta.encode_mp4_from_samples_fast(
                        doc_samples, VIDEO_MP4_W, VIDEO_MP4_H, 10
                    )
                    info = mp4_meta.parse_mp4_samples(payload)
                    for i in uniq:
                        off, size = info["offsets"][i], info["sizes"][i]
                        offs_all[k] = len(concat)
                        sz_all[k] = size
                        concat += payload[off : off + size]
                        k += 1
                dec = codec.decode_jpeg_batch(
                    bytes(concat), offs_all, sz_all, VIDEO_MP4_W, VIDEO_MP4_H
                )
                flat = dec.reshape(nd, len(uniq), -1).astype(np.int64)
                # plan order incl. repeats; with nf constant and
                # nf >= K the plan is distinct-sorted so pos is the
                # identity — skip the gather (np.ndarray advanced
                # indexing on the middle axis measured ~9 s per 115 MB
                # on this numpy; np.take is the fast general form)
                sel = (
                    flat
                    if pos == list(range(len(uniq)))
                    else np.take(flat, pos, axis=1)
                )
                px_sum = sel.sum(axis=2).reshape(-1)
                wsum = sel.reshape(-1, q.size) @ q  # 2-D matmul: BLAS-shaped
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(doc_ids, K),
                        "n_frames": np.int64(nf),
                        "frame_rank": np.tile(
                            np.arange(1, K + 1, dtype=np.int64), nd
                        ),
                        "frame_idx": np.tile(np.asarray(plan, dtype=np.int64), nd),
                        "px_sum": px_sum,
                        "px_wsum": wsum.reshape(-1),
                        "mean_px": np.round(px_sum / float(_MP4_FRAME_PX), 6),
                    }
                )

    from ad_data_lake_spark.sources.tables import spread

    # same spread rationale as audio_wav_features: per-row container
    # encode+decode is compute-bound; never let it serialize onto the
    # input's split count
    src = spread(
        documents.where(F.length("text") >= 1).select(
            "doc_id",
            F.substring("text", 1, 4 * VIDEO_MP4_N_FRAMES).alias("prefix"),
            F.length("text").alias("text_len"),
        )
    )
    return src.mapInPandas(run, schema=VIDEO_STATS_SCHEMA)
