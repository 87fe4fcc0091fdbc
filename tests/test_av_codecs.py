"""Vendored audio/video codec tests: WAV (wav_codec), AVI
(avi_codec), MP4 metadata (mp4_meta), and their multimodal dispatch.

Strategy mirrors the image-codec suites: (1) INDEPENDENT byte-level
fixtures decoded against hand-computed expectations (so an encode bug
cannot mask a matching decode bug), (2) encode→decode roundtrips incl.
property-style randomized payloads, (3) the ValueError contract for
corrupt/exotic payloads (a bad record must never kill an Arrow batch),
(4) dispatch order + the Python/JVM frame-sampling twin equivalence.
The oracle-gated registry rows (audio_wav_features /
video_frame_stats) are covered by tests/test_oracle_parity.py like
every other row.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from ad_data_lake_spark.llm import avi_codec, mp4_meta, wav_codec
from tests.media_fixtures import encode_mp4_mjpeg, synth_mp4_meta


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------


def test_wav_roundtrip_mono():
    rng = np.random.default_rng(7)
    s = rng.integers(-32768, 32768, size=777, dtype=np.int16)
    sr, ch, out = wav_codec.decode_wav(wav_codec.encode_wav(s, 22_050))
    assert (sr, ch) == (22_050, 1)
    np.testing.assert_array_equal(out[:, 0], s)


def test_wav_roundtrip_stereo():
    rng = np.random.default_rng(8)
    s = rng.integers(-32768, 32768, size=(300, 2), dtype=np.int16)
    sr, ch, out = wav_codec.decode_wav(wav_codec.encode_wav(s, 44_100))
    assert (sr, ch) == (44_100, 2)
    np.testing.assert_array_equal(out, s)


def test_wav_parse_meta():
    s = np.zeros((123, 2), dtype=np.int16)
    meta = wav_codec.parse_wav_meta(wav_codec.encode_wav(s, 8_000))
    assert meta == (8_000, 2, 16, 123)


def _wav_manual(fmt_tag: int, n_ch: int, sr: int, bits: int, data: bytes) -> bytes:
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, n_ch, sr, sr * n_ch * bits // 8, n_ch * bits // 8, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_pcm8_widens_exactly():
    # independent fixture: PCM8 is unsigned; 128 is silence
    data = bytes([0, 128, 255, 64])
    sr, ch, out = wav_codec.decode_wav(_wav_manual(1, 1, 8_000, 8, data))
    np.testing.assert_array_equal(
        out[:, 0], np.array([(0 - 128) * 256, 0, 127 * 256, (64 - 128) * 256])
    )


def test_wav_float32_scales_and_clips():
    f = np.array([0.0, 1.0, -1.0, 0.5, 2.0, -2.0], dtype="<f4")
    sr, ch, out = wav_codec.decode_wav(_wav_manual(3, 1, 16_000, 32, f.tobytes()))
    np.testing.assert_array_equal(
        out[:, 0], np.array([0, 32767, -32767, 16384, 32767, -32767], dtype=np.int16)
    )


def test_wav_extensible_wrapper():
    # WAVE_FORMAT_EXTENSIBLE (0xFFFE): real format tag lives in the GUID
    samples = np.arange(-5, 5, dtype=np.int16)
    ext = (
        struct.pack("<HHIIHH", 0xFFFE, 1, 16_000, 32_000, 2, 16)
        + struct.pack("<HHI", 22, 16, 0)  # cbSize, valid bits, channel mask
        + struct.pack("<H", 1) + b"\x00" * 14  # GUID: real tag (PCM) in first 2 bytes
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(ext)) + ext
        + b"data" + struct.pack("<I", 20) + samples.astype("<i2").tobytes()
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    sr, ch, out = wav_codec.decode_wav(payload)
    np.testing.assert_array_equal(out[:, 0], samples)


def test_wav_skips_unknown_chunks_word_aligned():
    # a 3-byte LIST chunk (odd size → 1 pad byte) before data
    samples = np.array([1, -2, 3], dtype=np.int16)
    fmt = struct.pack("<HHIIHH", 1, 1, 16_000, 32_000, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        + b"data" + struct.pack("<I", 6) + samples.astype("<i2").tobytes()
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    sr, ch, out = wav_codec.decode_wav(payload)
    np.testing.assert_array_equal(out[:, 0], samples)


@pytest.mark.parametrize(
    "mutant",
    [
        b"RIFX" + b"\x00" * 40,  # bad signature
        b"RIFF" + struct.pack("<I", 4) + b"WAVE",  # no chunks at all
        _wav_manual(2, 1, 16_000, 16, b"\x00" * 8),  # ADPCM fmt tag
        _wav_manual(1, 1, 16_000, 24, b"\x00" * 9),  # 24-bit packing
        _wav_manual(1, 0, 16_000, 16, b"\x00" * 8),  # zero channels
        _wav_manual(1, 1, 0, 16, b"\x00" * 8),  # zero sample rate
    ],
)
def test_wav_corrupt_raises_valueerror(mutant):
    with pytest.raises(ValueError):
        wav_codec.decode_wav(mutant)


def test_wav_truncated_data_raises():
    good = wav_codec.encode_wav(np.arange(100, dtype=np.int16), 16_000)
    with pytest.raises(ValueError):
        wav_codec.decode_wav(good[:-40])  # declared 200 bytes, fewer present


def test_wav_resample_identity_and_length():
    s = np.arange(-500, 500, dtype=np.int16)
    same = wav_codec.resample_linear(s, 16_000, 16_000)
    np.testing.assert_array_equal(same, s)
    assert same is not s and same.dtype == np.int16  # contract: fresh int16
    same[0] = 7  # mutating the output must not corrupt the source
    assert s[0] == -500
    # float input is coerced on the identity path like every other path
    assert wav_codec.resample_linear(
        np.array([0.7, -0.2]), 16_000, 16_000
    ).dtype == np.int16
    down = wav_codec.resample_linear(s, 16_000, 8_000)
    assert len(down) == 500
    up = wav_codec.resample_linear(s, 8_000, 16_000)
    assert len(up) == 2000


def test_wav_resample_matches_numpy_interp():
    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=400, dtype=np.int16)
    out = wav_codec.resample_linear(s, 16_000, 11_025)
    n_out = (400 * 11_025) // 16_000
    pos = np.arange(n_out) * (16_000 / 11_025)
    ref = np.rint(np.interp(pos, np.arange(400), s.astype(np.float64)))
    np.testing.assert_array_equal(out, ref.astype(np.int16))


# ---------------------------------------------------------------------------
# AVI
# ---------------------------------------------------------------------------


def _frames(n: int, h: int = 6, w: int = 5, seed: int = 3) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8) for _ in range(n)]


def test_avi_roundtrip_all_frames():
    frames = _frames(4)
    meta, out = avi_codec.decode_avi_frames(avi_codec.encode_avi_dib(frames, fps=25))
    assert meta == (5, 6, 4, 25, "DIB")
    for a, b in zip(frames, out):
        np.testing.assert_array_equal(a, b)


def test_avi_sampled_subset_only():
    frames = _frames(10, seed=4)
    data = avi_codec.encode_avi_dib(frames)
    _meta, out = avi_codec.decode_avi_frames(data, [0, 7, 9])
    assert len(out) == 3
    for idx, fr in zip([0, 7, 9], out):
        np.testing.assert_array_equal(frames[idx], fr)


def test_avi_parse_meta_header_only():
    frames = _frames(3, h=2, w=2)
    w, h, n, fps, fourcc = avi_codec.parse_avi_meta(
        avi_codec.encode_avi_dib(frames, fps=12)
    )
    assert (w, h, n, fps, fourcc) == (2, 2, 3, 12, "DIB")


def test_avi_dib_byte_level_independent_fixture():
    """Hand-built container: a 1-frame 2x2 DIB with KNOWN bytes, so a
    matching encode/decode bug pair cannot hide. DIB rows are BGR
    BOTTOM-UP and padded to 4 bytes (2px * 3 = 6 -> 8)."""
    # target RGB (top-down):  [[R0 G0 B0, R1 G1 B1], [R2 G2 B2, R3 G3 B3]]
    # with pixel k = (10k+1, 10k+2, 10k+3)
    # bottom row first, BGR per pixel, 2 pad bytes per row:
    row_bottom = bytes([23, 22, 21, 33, 32, 31, 0, 0])  # pixels 2,3
    row_top = bytes([3, 2, 1, 13, 12, 11, 0, 0])  # pixels 0,1
    dib = row_bottom + row_top

    avih = struct.pack("<IIIIIIIIIIIIII", 100_000, 0, 0, 0x10, 1, 0, 1, len(dib), 2, 2, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ", 0, 0, 0, 0, 1, 10, 0, 1,
        len(dib), 0xFFFFFFFF, 0, 0, 0, 2, 2,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(dib), 0, 0, 0, 0)

    def chunk(tag, body):
        return tag + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", chunk(b"00db", dib))
    body = b"AVI " + hdrl + movi
    data = b"RIFF" + struct.pack("<I", len(body)) + body

    _meta, (frame,) = avi_codec.decode_avi_frames(data, [0])
    expected = np.array(
        [[[1, 2, 3], [11, 12, 13]], [[21, 22, 23], [31, 32, 33]]], dtype=np.uint8
    )
    np.testing.assert_array_equal(frame, expected)


def test_avi_mjpeg_frames_decode_via_jpeg_codec():
    """MJPEG: each movi chunk is a complete baseline JPEG. Build the
    container by hand (the encoder only writes DIB) and check the
    extracted frames equal the jpeg_codec decode of each body."""
    from ad_data_lake_spark.llm import jpeg_codec

    w = h = 16
    bodies = []
    for k in range(3):
        px = ((np.arange(w * h * 3, dtype=np.int64) * (k + 7)) % 256).astype(np.uint8)
        bodies.append(jpeg_codec.encode_jpeg(px.tobytes(), w, h))

    def chunk(tag, body):
        return tag + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    avih = struct.pack("<IIIIIIIIIIIIII", 100_000, 0, 0, 0, 3, 0, 1, 0, w, h, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"vids", b"MJPG", 0, 0, 0, 0, 1, 10, 0, 3,
        0, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    # real MJPEG writers put the codec in strf.biCompression ('MJPG')
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", 0, 0, 0, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", b) for b in bodies))
    body = b"AVI " + hdrl + movi
    data = b"RIFF" + struct.pack("<I", len(body)) + body

    meta, frames = avi_codec.decode_avi_frames(data, [0, 2])
    assert meta[4] == "MJPG" and len(frames) == 2
    # reference = the SAME decoder the frame walk dispatches to (the
    # native shim when present): this test pins that the walk fetches
    # the right BYTES, not which conforming IDCT decoded them (those
    # differ ±1/px on AC-bearing content like this gradient)
    from ad_data_lake_spark.llm import jpeg_ffi

    ref_decode = (
        jpeg_ffi.decode_jpeg if jpeg_ffi.available() else jpeg_codec.decode_jpeg
    )
    for idx, fr in zip([0, 2], frames):
        jw, jh, ch, px = ref_decode(bodies[idx])
        ref = np.frombuffer(px, dtype=np.uint8).reshape(jh, jw, ch)
        np.testing.assert_array_equal(fr, ref)


def test_avi_corrupt_raises_valueerror():
    frames = _frames(2, h=2, w=2)
    good = avi_codec.encode_avi_dib(frames)
    with pytest.raises(ValueError):
        avi_codec.decode_avi_frames(b"RIFF" + good[4:8] + b"WAVE" + good[12:])
    with pytest.raises(ValueError):
        avi_codec.decode_avi_frames(good, [5])  # out of range
    with pytest.raises(ValueError):
        avi_codec.decode_avi_frames(good[: len(good) - 10], [1])  # truncated movi
    # compressed codec: patch strf.biCompression (the authoritative
    # field) to a codec fourcc the vendored decoder cannot handle
    strf_body = good.index(b"strf") + 8
    xvid = bytearray(good)
    xvid[strf_body + 16 : strf_body + 20] = b"XVID"
    with pytest.raises(ValueError):
        avi_codec.decode_avi_frames(bytes(xvid), [0])


# ---------------------------------------------------------------------------
# MP4 metadata
# ---------------------------------------------------------------------------


def test_mp4_meta_roundtrip():
    data = synth_mp4_meta(
        12.5, timescale=600, tracks=(("vide", "avc1", 1920, 1080), ("soun", "mp4a", 0, 0))
    )
    meta = mp4_meta.parse_mp4_meta(data)
    assert meta["duration_s"] == 12.5
    assert meta["timescale"] == 600
    assert meta["n_tracks"] == 2
    assert meta["tracks"][0] == {
        "handler": "vide", "codec": "avc1", "width": 1920, "height": 1080,
    }
    assert meta["tracks"][1]["codec"] == "mp4a"


def test_mp4_corrupt_raises_valueerror():
    with pytest.raises(ValueError):
        mp4_meta.parse_mp4_meta(b"\x89PNG\r\n\x1a\n" + b"\x00" * 30)
    with pytest.raises(ValueError):
        mp4_meta.parse_mp4_meta(
            struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        )  # no moov
    good = synth_mp4_meta(1.0)
    with pytest.raises(ValueError):
        mp4_meta.parse_mp4_meta(good[: len(good) // 2])  # truncated moov


# ---------------------------------------------------------------------------
# multimodal dispatch + sampling twins
# ---------------------------------------------------------------------------


def test_decode_audio_dispatch():
    from ad_data_lake_spark.llm import multimodal as MM

    wav = wav_codec.encode_wav(np.arange(10, dtype=np.int16), 16_000)
    sr, ch, out = MM.decode_audio_bytes(wav)
    assert (sr, ch, len(out)) == (16_000, 1, 10)
    with pytest.raises(NotImplementedError):
        MM.decode_audio_bytes(b"ID3\x04" + b"\x00" * 60)  # mp3


def test_decode_video_dispatch():
    from ad_data_lake_spark.llm import multimodal as MM

    frames = _frames(8, h=2, w=2, seed=9)
    meta, idx, out = MM.decode_video_frames(avi_codec.encode_avi_dib(frames), k=3)
    assert idx == [0, 3, 7] and meta[2] == 8 and len(out) == 3
    np.testing.assert_array_equal(out[1], frames[3])
    mp4 = synth_mp4_meta(2.0)
    with pytest.raises(NotImplementedError):
        MM.decode_video_frames(mp4)  # pixel decode needs a codec stack
    assert mp4_meta.parse_mp4_meta(mp4)["duration_s"] == 2.0  # metadata still real


def test_sampled_indices_matches_jvm_plan(spark):
    """The Python twin used inside Arrow kernels must equal the JVM
    column plan (sample_frame_indices) for every (n, k) shape the
    pipeline uses."""
    from pyspark.sql import functions as F

    from ad_data_lake_spark.llm import multimodal as MM

    cases = [(8, 3), (1, 3), (2, 3), (100, 3), (9, 4), (16, 1), (1, 1)]
    for n, k in cases:
        row = (
            spark.range(1)
            .select(MM.sample_frame_indices(F.lit(n), k).alias("idx"))
            .collect()[0]
        )
        assert MM.sampled_indices(n, k) == list(row["idx"]), (n, k)


def test_one_byte_corruption_batch_safety():
    """A flipped byte in an audio/video payload must raise ValueError
    (or decode to SOMETHING), never escape as a non-ValueError — the
    contract that lets mapInPandas quarantine bad records per row."""
    rng = np.random.default_rng(13)
    wav = bytearray(wav_codec.encode_wav(rng.integers(-99, 99, 64, dtype=np.int16)))
    avi = bytearray(avi_codec.encode_avi_dib(_frames(2, h=2, w=2, seed=5)))
    for payload, decode in (
        (wav, wav_codec.decode_wav),
        (avi, lambda d: avi_codec.decode_avi_frames(d, [0])),
    ):
        for pos in rng.integers(0, len(payload), size=40):
            mutant = bytearray(payload)
            mutant[pos] ^= 0xFF
            try:
                decode(bytes(mutant))
            except ValueError:
                pass  # the allowed failure mode


def test_mp4_deep_nesting_exhausts_walk_not_stack():
    """Crafted deeply-nested wrapper boxes must return cleanly (None
    codec), never RecursionError — which would escape the ValueError
    contract and kill an Arrow batch."""
    inner = struct.pack(">I", 8) + b"free"
    for _ in range(5_000):
        inner = struct.pack(">I", len(inner) + 8) + b"wrap" + inner
    mvhd = struct.pack(">I", 8 + 4 + 96) + b"mvhd" + (
        b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, 1000, 5000) + b"\x00" * 80
    )
    trak_mdia = struct.pack(">I", len(inner) + 8) + b"mdia" + inner
    trak = struct.pack(">I", len(trak_mdia) + 8) + b"trak" + trak_mdia
    moov = struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" + mvhd + trak
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    meta = mp4_meta.parse_mp4_meta(ftyp + moov)
    assert meta["n_tracks"] == 1 and meta["tracks"][0]["codec"] is None


def test_avi_real_writer_shape_nul_handler_bi_rgb():
    """ffmpeg-style raw video: strh.fccHandler is four NULs and the
    authoritative codec lives in strf.biCompression (0 = BI_RGB). The
    decoder must key on strf, not the handler (r11 review finding)."""
    frames = _frames(2, h=2, w=2, seed=21)
    data = bytearray(avi_codec.encode_avi_dib(frames))
    # blank the handler the way real writers do
    i = data.index(b"vids") + 4
    assert data[i : i + 4] == b"DIB "
    data[i : i + 4] = b"\x00\x00\x00\x00"
    meta, out = avi_codec.decode_avi_frames(bytes(data))
    assert meta[4] == "DIB"
    for a, b in zip(frames, out):
        np.testing.assert_array_equal(a, b)


def test_mp4_tkhd_dims_at_spec_offsets():
    """Byte-level tkhd fixture laid out EXACTLY per ISO 14496-12
    (verflags 4, times/id/reserved/duration 20, reserved 8,
    layer/alternate/volume/reserved 8, matrix 36, then 16.16 width/
    height at body offsets 76/80) — so a parser reading the wrong
    offsets (the r11 review finding: +84) cannot pass."""
    body = (
        b"\x00\x00\x00\x07"
        + struct.pack(">IIIII", 0, 0, 1, 0, 600)
        + b"\x00" * 8  # reserved
        + b"\x00" * 8  # layer, alternate_group, volume, reserved
        + b"\x00" * 36  # identity-ish matrix (zeros fine for parse)
        + struct.pack(">II", 1280 << 16, 720 << 16)
    )
    assert len(body) == 84  # the spec's exact v0 tkhd body size
    tkhd = struct.pack(">I", len(body) + 8) + b"tkhd" + body
    mvhd = struct.pack(">I", 8 + 4 + 96) + b"mvhd" + (
        b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, 600, 1200) + b"\x00" * 80
    )
    trak = struct.pack(">I", len(tkhd) + 8) + b"trak" + tkhd
    moov = struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" + mvhd + trak
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    meta = mp4_meta.parse_mp4_meta(ftyp + moov)
    assert meta["duration_s"] == 2.0
    assert meta["tracks"][0]["width"] == 1280
    assert meta["tracks"][0]["height"] == 720


# ---------------------------------------------------------------------------
# AVI multi-stream (r12): sibling strl lists + stream-indexed chunk ids
# ---------------------------------------------------------------------------


def _avi_audio_then_video(frames: list[np.ndarray]) -> bytes:
    """Hand-built AVI whose AUDIO strl precedes the video strl — the
    shape real muxers emit when audio is stream 0. Video frames are
    therefore '01db' chunks, not '00db'."""
    h, w, _ = frames[0].shape
    row_bytes = (w * 3 + 3) & ~3
    pad = row_bytes - w * 3
    bodies = []
    for fr in frames:
        bgr = np.ascontiguousarray(fr[::-1, :, ::-1], dtype=np.uint8)
        rows = bgr.reshape(h, w * 3)
        if pad:
            rows = np.hstack([rows, np.zeros((h, pad), dtype=np.uint8)])
        bodies.append(rows.tobytes())

    def chunk(tag, body):
        return tag + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    n = len(frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII", 100_000, 0, 0, 0, n, 0, 2, 0, w, h, 0, 0, 0, 0
    )
    a_strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
        1, 16000, 0, 16000, 0, 0xFFFFFFFF, 0, 0, 0, 0, 0,
    )
    a_strf = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)  # WAVEFORMAT PCM
    v_strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ", 0, 0, 0, 0, 1, 10, 0, n,
        0, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    v_strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", a_strh) + chunk(b"strf", a_strf))
        + lst(b"strl", chunk(b"strh", v_strh) + chunk(b"strf", v_strf)),
    )
    # stream 0 = audio -> audio data is '00wb', video is '01db'
    movi_chunks = b""
    for body in bodies:
        movi_chunks += chunk(b"00wb", b"\x00" * 32)
        movi_chunks += chunk(b"01db", body)
    movi = lst(b"movi", movi_chunks)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_audio_strl_before_video_strl_found():
    """Regression (r11 ADVICE): the header walk used to clamp its end
    at the FIRST nested LIST, so an audio strl ahead of the video strl
    hid the video stream entirely. Sibling strls must all be visited
    and the video stream's index must map its '01db' chunks."""
    frames = _frames(3, h=4, w=4)
    data = _avi_audio_then_video(frames)
    w, h, n, fps, fourcc = avi_codec.parse_avi_meta(data)
    assert (w, h, n, fps, fourcc) == (4, 4, 3, 10, "DIB")
    _meta, out = avi_codec.decode_avi_frames(data, [0, 2])
    np.testing.assert_array_equal(out[0], frames[0])
    np.testing.assert_array_equal(out[1], frames[2])


# ---------------------------------------------------------------------------
# MP4 motion-JPEG sample walk (r12): encode → stbl walk → decode
# ---------------------------------------------------------------------------


def _solid_block_frames(n: int, size: int = 16, seed: int = 1) -> list[np.ndarray]:
    """Frames of solid 8x8 blocks — the pixel class baseline JPEG
    round-trips exactly (DC-only blocks; see multimodal docstring)."""
    out = []
    blocks = size // 8
    for f in range(n):
        fr = np.zeros((size, size, 3), dtype=np.uint8)
        for by in range(blocks):
            for bx in range(blocks):
                v = (seed * 37 + 97 * f + 13 * (by * blocks + bx)) % 256
                fr[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8, :] = v
        out.append(fr)
    return out


def test_mp4_mjpeg_roundtrip_all_frames():
    frames = _solid_block_frames(5)
    data = encode_mp4_mjpeg(frames, fps=25)
    meta, out = mp4_meta.decode_mp4_frames(data)
    assert meta == (16, 16, 5, 25, "jpeg")
    for a, b in zip(frames, out):
        np.testing.assert_array_equal(a, b)


def test_mp4_mjpeg_sampled_subset_only():
    frames = _solid_block_frames(9, seed=3)
    data = encode_mp4_mjpeg(frames)
    _meta, out = mp4_meta.decode_mp4_frames(data, [0, 4, 8])
    assert len(out) == 3
    for idx, fr in zip([0, 4, 8], out):
        np.testing.assert_array_equal(frames[idx], fr)


def test_mp4_sample_table_resolves_offsets_and_sizes():
    frames = _solid_block_frames(4)
    data = encode_mp4_mjpeg(frames)
    info = mp4_meta.parse_mp4_samples(data)
    assert info["codec"] == "jpeg" and info["n_samples"] == 4
    assert info["width"] == info["height"] == 16
    # every sample slice IS a complete JPEG (SOI..EOI)
    for off, size in zip(info["offsets"], info["sizes"]):
        s = data[off : off + size]
        assert s[:2] == b"\xff\xd8" and s[-2:] == b"\xff\xd9"


def test_mp4_stsc_multi_sample_chunks_expand_correctly():
    """The stsc expansion on a layout our encoder never writes: 2
    samples per chunk in the first run, 1 in the rest — rewrite the
    encoder's tables by hand and check the walk still lands on the
    same JPEG bytes."""
    frames = _solid_block_frames(5, seed=7)
    data = bytearray(encode_mp4_mjpeg(frames))
    info = mp4_meta.parse_mp4_samples(bytes(data))
    offs, sizes = info["offsets"], info["sizes"]
    # chunks: [s0 s1] [s2 s3] [s4] -> stsc runs: (1,2),(3,1)
    stsc_body = b"\x00" * 4 + struct.pack(">IIIIIII", 2, 1, 2, 1, 3, 1, 1)
    new_stsc = struct.pack(">I", len(stsc_body) + 8) + b"stsc" + stsc_body
    stco_body = b"\x00" * 4 + struct.pack(">IIII", 3, offs[0], offs[2], offs[4])
    new_stco = struct.pack(">I", len(stco_body) + 8) + b"stco" + stco_body
    i = bytes(data).index(b"stsc") - 4
    old_stsc_len = struct.unpack_from(">I", data, i)[0]
    j = bytes(data).index(b"stco") - 4
    old_stco_len = struct.unpack_from(">I", data, j)[0]
    out = bytes(data[:i]) + new_stsc + bytes(data[i + old_stsc_len : j]) + new_stco + bytes(data[j + old_stco_len :])
    # grow every ancestor box (moov/trak/mdia/minf/stbl) by the delta
    delta = (len(new_stsc) - old_stsc_len) + (len(new_stco) - old_stco_len)
    out = bytearray(out)
    for btype in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        k = bytes(out).index(btype) - 4
        struct.pack_into(">I", out, k, struct.unpack_from(">I", out, k)[0] + delta)
    info2 = mp4_meta.parse_mp4_samples(bytes(out))
    assert info2["offsets"] == offs and info2["sizes"] == sizes
    _meta, dec = mp4_meta.decode_mp4_frames(bytes(out), [1, 4])
    np.testing.assert_array_equal(dec[0], frames[1])
    np.testing.assert_array_equal(dec[1], frames[4])


def test_mp4_non_jpeg_codec_raises_notimplemented():
    """h264 sample entries parse (the walk is codec-agnostic) but pixel
    decode is NotImplementedError — the honest stand-in gate."""
    frames = _solid_block_frames(2)
    data = bytearray(encode_mp4_mjpeg(frames))
    i = bytes(data).index(b"jpeg", bytes(data).index(b"stsd"))
    data[i : i + 4] = b"avc1"
    assert mp4_meta.parse_mp4_samples(bytes(data))["codec"] == "avc1"
    with pytest.raises(NotImplementedError):
        mp4_meta.decode_mp4_frames(bytes(data), [0])


def test_mp4_corrupt_sample_tables_raise_valueerror():
    frames = _solid_block_frames(2)
    good = encode_mp4_mjpeg(frames)
    with pytest.raises(ValueError):
        mp4_meta.decode_mp4_frames(good, [5])  # out of range
    with pytest.raises(ValueError):
        mp4_meta.parse_mp4_samples(good[: len(good) - 40])  # truncated moov
    # metadata-only mp4 (no stbl sample boxes) -> ValueError, not a crash
    with pytest.raises(ValueError):
        mp4_meta.parse_mp4_samples(synth_mp4_meta(1.0))
    # forged tkhd dimensions past the per-frame pixel fuse -> ValueError
    # BEFORE any sample decode allocates planes
    forged = bytearray(good)
    i = forged.index(b"tkhd") + 4  # body start
    struct.pack_into(">II", forged, i + 76, 0xFFFF << 16, 0xFFFF << 16)
    with pytest.raises(ValueError, match="implausible"):
        mp4_meta.parse_mp4_samples(bytes(forged))


def test_jpeg_solid_blocks_roundtrip_exactly_all_values():
    """The exactness premise the video_frame_stats_mp4 oracle rests
    on, pinned EXHAUSTIVELY: every solid 8x8 gray value 0..255
    survives encode→decode bit-exactly (DC-only blocks: max DC quant
    error q/2 = 1.5 moves a pixel by ≤ 1.5/8 < 0.5)."""
    from ad_data_lake_spark.llm import jpeg_codec

    for v in range(256):
        px = np.full((8, 8, 3), v, dtype=np.uint8)
        w, h, ch, out = jpeg_codec.decode_jpeg(
            jpeg_codec.encode_jpeg(px.tobytes(), 8, 8)
        )
        arr = np.frombuffer(out, dtype=np.uint8).reshape(h, w, ch)
        assert (arr == v).all(), f"solid value {v} did not roundtrip"


def test_decode_video_frames_mp4_dispatch_and_dup_plan():
    """multimodal.decode_video_frames routes ISO-BMFF payloads through
    the sample walk, and (r11 ADVICE) returns the RAW sampling plan —
    when n_frames < k the plan repeats indices and the output length
    matches the JVM twin, never a silently deduped shorter list."""
    from ad_data_lake_spark.llm import multimodal

    frames = _solid_block_frames(2, seed=5)
    data = encode_mp4_mjpeg(frames)
    meta, idx, out = multimodal.decode_video_frames(data, 3)
    assert meta == (16, 16, 2, 10, "jpeg")
    assert idx == [0, 0, 1] and len(out) == 3
    np.testing.assert_array_equal(out[0], out[1])
    np.testing.assert_array_equal(out[2], frames[1])


# ---------------------------------------------------------------------------
# Native libjpeg shim (jpeg_ffi) — the r12 verdict's ask #2. These run
# for REAL in this container (gcc + jpeglib.h + libjpeg.so.62 baked
# in) and self-lift to a skip only on hosts with no way to build the
# shim, mirroring the webp_ffi/Pillow gate pattern.
# ---------------------------------------------------------------------------


def _jpeg_ffi_or_skip():
    from ad_data_lake_spark.llm import jpeg_ffi

    if not jpeg_ffi.available():
        import shutil

        if any(shutil.which(c) for c in ("cc", "gcc", "clang")) and os.path.exists(
            "/usr/include/jpeglib.h"
        ):
            raise AssertionError(
                "toolchain + jpeglib.h present but jpeg_ffi failed to build "
                "— the shim must not silently regress on a capable host"
            )
        pytest.skip("no compiler/jpeglib.h on this host: vendored-only")
    return jpeg_ffi


def test_jpeg_ffi_matches_vendored_exactly_on_solid_blocks():
    """The native decoder must be BIT-IDENTICAL to the vendored codec
    on the oracle-gated DC-only class — pinned exhaustively over all
    256 solid values (libjpeg's integer islow IDCT and the vendored
    float64 IDCT both land within the DC quant error < 0.5/px of the
    true value, so both round to the same byte), plus the exact
    video_frame_stats_mp4 frame shape (16x16, four solid 8x8 blocks).
    If this ever breaks, the MP4 oracle row is decoder-dependent and
    the dispatch in mp4_meta.decode_mp4_frames must be reverted."""
    jpeg_ffi = _jpeg_ffi_or_skip()
    from ad_data_lake_spark.llm import jpeg_codec

    for v in range(256):
        px = np.full((8, 8, 3), v, dtype=np.uint8)
        data = jpeg_codec.encode_jpeg(px.tobytes(), 8, 8)
        assert jpeg_ffi.decode_jpeg(data) == jpeg_codec.decode_jpeg(data), v
    for fr in _solid_block_frames(6, seed=23):
        data = jpeg_codec.encode_jpeg(fr.tobytes(), 16, 16)
        assert jpeg_ffi.decode_jpeg(data) == jpeg_codec.decode_jpeg(data)


def test_jpeg_ffi_strict_on_corrupt_and_bounded_dims():
    """The dispatch contract must not depend on which decoder the host
    has: truncated entropy streams (libjpeg would zero-pad them with a
    warning) and garbage-after-SOI raise ValueError exactly like the
    vendored codec, and forged giant SOF dims are refused BEFORE any
    allocation."""
    jpeg_ffi = _jpeg_ffi_or_skip()
    from ad_data_lake_spark.llm import jpeg_codec

    good = jpeg_codec.encode_jpeg(
        np.full((16, 16, 3), 77, np.uint8).tobytes(), 16, 16
    )
    for bad in (good[:-20], good[:40], b"\xff\xd8junkjunkjunk"):
        with pytest.raises(ValueError):
            jpeg_ffi.decode_jpeg(bad)
    sof_at = good.index(b"\xff\xc0") + 4
    # 65535: libjpeg's own 65500 header cap refuses it (ValueError);
    # 60000: legal for libjpeg, so OUR 64M-pixel fuse must refuse it
    # before the ~10 GB allocation — both fail pre-allocation
    forged_lib = (
        good[: sof_at + 1]
        + struct.pack(">HH", 65535, 65535)
        + good[sof_at + 5 :]
    )
    with pytest.raises(ValueError):
        jpeg_ffi.decode_jpeg(forged_lib)
    forged_fuse = (
        good[: sof_at + 1]
        + struct.pack(">HH", 60000, 60000)
        + good[sof_at + 5 :]
    )
    with pytest.raises(ValueError, match="implausible"):
        jpeg_ffi.decode_jpeg(forged_fuse)


def test_jpeg_ffi_widens_coverage_beyond_vendored():
    """The native path is a capability GAIN, not just speed: a 4:2:0
    subsampled JPEG (built by rewriting our 4:4:4 stream is not
    possible, so synthesize one via libjpeg itself is out of scope —
    instead assert the documented seam: mp4/avi frame decode uses the
    shim when available and produces the same frames as a vendored-only
    decode of the same container."""
    jpeg_ffi = _jpeg_ffi_or_skip()
    from unittest import mock

    frames = _solid_block_frames(5, seed=9)
    data = encode_mp4_mjpeg(frames, fps=12)
    meta_n, out_native = mp4_meta.decode_mp4_frames(data, [0, 2, 4])
    with mock.patch(
        "ad_data_lake_spark.llm.jpeg_ffi.available", return_value=False
    ):
        meta_v, out_vendored = mp4_meta.decode_mp4_frames(data, [0, 2, 4])
    assert meta_n == meta_v
    for a, b in zip(out_native, out_vendored):
        np.testing.assert_array_equal(a, b)


def test_jpeg_ffi_native_encode_value_exact_roundtrip():
    """The native ENCODE half (r13): solid blocks encoded by libjpeg at
    the same 4:4:4/quality-90 stream class roundtrip value-exactly
    through BOTH decoders, over all 256 values and the MP4-row frame
    shape — so encode_mp4_mjpeg may dispatch to whichever encoder the
    host has without the oracle noticing."""
    jpeg_ffi = _jpeg_ffi_or_skip()
    from ad_data_lake_spark.llm import jpeg_codec

    for v in range(256):
        data = jpeg_ffi.encode_jpeg(
            np.full((8, 8, 3), v, np.uint8).tobytes(), 8, 8
        )
        for dec in (jpeg_ffi.decode_jpeg, jpeg_codec.decode_jpeg):
            w, h, ch, out = dec(data)
            assert (np.frombuffer(out, np.uint8) == v).all(), (v, dec)
    for fr in _solid_block_frames(6, seed=31):
        data = jpeg_ffi.encode_jpeg(fr.tobytes(), 16, 16)
        w, h, ch, out = jpeg_ffi.decode_jpeg(data)
        np.testing.assert_array_equal(
            np.frombuffer(out, np.uint8).reshape(16, 16, 3), fr
        )
    # stream class: every sample is a complete SOI..EOI baseline JPEG
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    # contract errors
    with pytest.raises(ValueError):
        jpeg_ffi.encode_jpeg(b"\x00" * 5, 2, 2, 3)  # wrong buffer size
    with pytest.raises(ValueError):
        jpeg_ffi.encode_jpeg(b"\x00" * 4, 2, 2, 1)  # non-RGB


def test_jpeg_ffi_batch_calls_match_single_calls():
    """The batched C entry points (one ctypes call per Arrow sub-chunk)
    must be BYTE-identical to the per-frame calls: encode_jpeg_batch's
    concatenated streams equal encode_jpeg per frame, and
    decode_jpeg_batch roundtrips the originals exactly. Also the
    strictness contract: a corrupt member fails the whole batch, and a
    dimension mismatch is refused."""
    jpeg_ffi = _jpeg_ffi_or_skip()

    frames = np.stack(_solid_block_frames(9, seed=41))
    blob, sizes = jpeg_ffi.encode_jpeg_batch(frames)
    offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    for i in range(len(frames)):
        single = jpeg_ffi.encode_jpeg(frames[i].tobytes(), 16, 16)
        assert blob[int(offs[i]) : int(offs[i] + sizes[i])] == single, i
    dec = jpeg_ffi.decode_jpeg_batch(blob, offs, sizes, 16, 16)
    np.testing.assert_array_equal(dec, frames)
    # strict: truncating one member's bytes fails the batch
    bad_sizes = sizes.copy()
    bad_sizes[3] -= 30
    with pytest.raises(ValueError):
        jpeg_ffi.decode_jpeg_batch(blob, offs, bad_sizes, 16, 16)
    # dimension mismatch refused before writing anything
    with pytest.raises(ValueError):
        jpeg_ffi.decode_jpeg_batch(blob, offs, sizes, 8, 8)
    # bounds: ranges past the buffer end are refused Python-side
    with pytest.raises(ValueError):
        jpeg_ffi.decode_jpeg_batch(blob[:-5], offs, sizes, 16, 16)
    # empty batch round-trips
    empty, esz = jpeg_ffi.encode_jpeg_batch(
        np.zeros((0, 16, 16, 3), np.uint8)
    )
    assert empty == b"" and len(esz) == 0


def test_jpeg_ffi_batch_encode_grows_buffer_on_high_entropy():
    """r13 ADVICE: high-entropy frames at quality 100 exceed raw size
    (measured 1.42x raw), which used to blow the fixed n*(raw+1024)
    out_cap and raise ValueError while the single-frame API succeeded.
    The batch API now grows the buffer on the C side's -2 and retries,
    so batch == per-frame byte-for-byte on the exact repro class."""
    jpeg_ffi = _jpeg_ffi_or_skip()

    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, size=(5, 64, 64, 3), dtype=np.uint8)
    blob, sizes = jpeg_ffi.encode_jpeg_batch(noise, quality=100)
    assert sizes.max() > 64 * 64 * 3  # the repro premise: stream > raw
    offs = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    for i in range(len(noise)):
        single = jpeg_ffi.encode_jpeg(
            noise[i].tobytes(), 64, 64, quality=100
        )
        assert blob[int(offs[i]) : int(offs[i] + sizes[i])] == single, i
    # and the grown streams decode back exactly through the batch path
    dec = jpeg_ffi.decode_jpeg_batch(blob, offs, sizes, 64, 64)
    assert dec.shape == noise.shape


def test_jpeg_ffi_refuses_squatted_cache_dir():
    """r13 verdict #6: the shim .so is ctypes-loaded into every
    executor, so a group/world-writable (or foreign-owned) cache dir
    must be REFUSED — _cache_dir() returns None, the build is skipped,
    and every dispatch site takes the vendored codec. Simulated by
    pointing tempfile.gettempdir at a dir where the expected cache
    path pre-exists with mode 0o777 (a squatter's plant)."""
    import tempfile as _tempfile
    from unittest import mock

    from ad_data_lake_spark.llm import jpeg_codec, jpeg_ffi

    with _tempfile.TemporaryDirectory() as td:
        squat = os.path.join(td, f"adl-jpeg-cache-{os.getuid()}")
        os.makedirs(squat)
        os.chmod(squat, 0o777)
        with mock.patch.object(
            jpeg_ffi.tempfile, "gettempdir", return_value=td
        ):
            assert jpeg_ffi._cache_dir() is None
            assert jpeg_ffi._build_shim() is None
            # fresh load state: availability must come out False so the
            # oracle path is the vendored codec, unchanged
            with (
                mock.patch.object(jpeg_ffi, "_LIB", None),
                mock.patch.object(jpeg_ffi, "_LIB_TRIED", False),
            ):
                assert jpeg_ffi.available() is False
                data = jpeg_codec.encode_jpeg(
                    np.full((8, 8, 3), 77, np.uint8).tobytes(), 8, 8
                )
                w, h, ch, out = jpeg_codec.decode_jpeg(data)
                assert (np.frombuffer(out, np.uint8) == 77).all()
        # a sane 0700 owner-only dir is still accepted
        ok = os.path.join(td, "sane")
        with mock.patch.object(
            jpeg_ffi.tempfile, "gettempdir", return_value=ok
        ):
            os.makedirs(ok)
            assert jpeg_ffi._cache_dir() is not None


def test_mp4_container_template_patch_is_byte_identical():
    """encode_mp4_from_samples_fast (the per-doc template patch the
    batched video_frame_stats_mp4 path uses) must produce EXACTLY the
    bytes of the general builder for arbitrary sample sizes — the
    whole point of the fast path is that nothing downstream (stbl
    walk, driver oracle) can tell them apart."""
    rng = np.random.default_rng(17)
    for n in (1, 4, 6):
        for _ in range(5):
            samples = [
                rng.bytes(int(rng.integers(10, 900))) for _ in range(n)
            ]
            a = mp4_meta.encode_mp4_from_samples(samples, 16, 16, 10)
            b = mp4_meta.encode_mp4_from_samples_fast(samples, 16, 16, 10)
            assert a == b, (n, [len(s) for s in samples])
    # and the walk resolves the patched tables exactly
    samples = [rng.bytes(200 + 13 * i) for i in range(6)]
    data = mp4_meta.encode_mp4_from_samples_fast(samples, 16, 16, 10)
    info = mp4_meta.parse_mp4_samples(data)
    assert info["sizes"] == [len(s) for s in samples]
    for off, s in zip(info["offsets"], samples):
        assert data[off : off + len(s)] == s
    # pathological dims whose stsd entry bytes spell the fourccs
    # (w=0x7374 h=0x737A packs b"stsz"): the template locator walks the
    # box tree, so a byte-level collision cannot mislead it (r13 review)
    for w, h in ((0x7374, 0x737A), (0x7374, 0x7363)):
        a = mp4_meta.encode_mp4_from_samples(samples, w, h, 10)
        b = mp4_meta.encode_mp4_from_samples_fast(samples, w, h, 10)
        assert a == b, (w, h)
