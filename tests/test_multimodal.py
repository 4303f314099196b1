"""Multimodal column tests: magic-byte sniffing, metadata struct,
binary dedup, and the Arrow-batched decode/frame-sample stubs."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from isilon_hadoop_tools_spark import multimodal as M

SCHEMA = "doc_id LONG, payload BINARY"


def _df(spark, payloads: list[bytes]):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], SCHEMA
    )


def test_detect_mime_known_magics(spark):
    payloads = [
        b"\x89PNG\r\n\x1a\nrest",
        b"\xff\xd8\xff\xe0jpeg",
        b"GIF89a...",
        b"RIFF....WAVE",
        b"ID3\x04tag",
        b"OggSpage",
        b"plain text",
    ]
    out = [r["m"] for r in _df(spark, payloads).select(M.detect_mime("payload").alias("m")).collect()]
    assert out == [
        "image/png",
        "image/jpeg",
        "image/gif",
        "audio/wav",
        "audio/mpeg",
        "audio/ogg",
        "application/octet-stream",
    ]


def test_attach_metadata_fields(spark):
    raw = b"\x89PNG\r\n\x1a\npayload"
    row = M.attach_metadata(_df(spark, [raw]), "payload").select("meta.*").first()
    assert row["size_bytes"] == len(raw)
    assert row["mime"] == "image/png"
    assert row["content_hash"] == hashlib.md5(raw.hex().upper().encode()).hexdigest()


def test_binary_dedup_groups_identical_payloads(spark):
    out = M.binary_dedup(
        _df(spark, [b"same", b"same", b"other"]), "payload", "doc_id"
    ).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in out}
    assert by_keep == {0: 2, 2: 1}


def test_decode_stub_schema_and_determinism(spark):
    df = _df(spark, [b"x" * 10, b"y" * 700])
    rows = {r["doc_id"]: r for r in M.decode_image_stub(df, "payload", "doc_id").collect()}
    assert rows[0]["width"] == 11 and rows[0]["height"] == 71
    assert rows[1]["width"] == 700 % 640 + 1
    assert all(r["channels"] == 3 for r in rows.values())
    # repartitioned input yields identical results (pure per-row fn)
    again = {
        r["doc_id"]: (r["width"], r["height"])
        for r in M.decode_image_stub(df.repartition(4), "payload", "doc_id").collect()
    }
    assert again == {k: (v["width"], v["height"]) for k, v in rows.items()}


def test_frame_sample_one_to_many(spark):
    raw = b"abcdefg"  # 7 bytes -> 7 % 5 + 1 = 3 frames
    out = M.sample_frames_stub(_df(spark, [raw]), "payload", "doc_id").collect()
    assert [r["frame_idx"] for r in sorted(out, key=lambda r: r["frame_idx"])] == [1, 2, 3]
    expected = hashlib.md5(f"{raw.hex().upper()}:2".encode()).hexdigest()
    assert {r["frame_hash"] for r in out if r["frame_idx"] == 2} == {expected}


def test_resize_stub_never_upscales_and_fits_box(spark):
    from isilon_hadoop_tools_spark import multimodal as M
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, b"x" * 10), (2, b"y" * 700), (3, b"z")],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in M.resize_image_stub(df, "payload", "doc_id").collect()}
    for r in out.values():
        assert 1 <= r["out_w"] <= 64 and 1 <= r["out_h"] <= 64
        assert r["out_w"] <= max(r["src_w"], 64)  # no upscale beyond source
        if max(r["src_w"], r["src_h"]) <= 64:
            assert (r["out_w"], r["out_h"]) == (r["src_w"], r["src_h"])


def test_feature_stub_shape_and_determinism(spark):
    from isilon_hadoop_tools_spark import multimodal as M

    df = spark.createDataFrame([(1, b"abc"), (2, b"def")], "doc_id long, payload binary")
    a = sorted(map(tuple, M.extract_features_stub(df, "payload", "doc_id", dim=8).collect()))
    b = sorted(map(tuple, M.extract_features_stub(df, "payload", "doc_id", dim=8).collect()))
    assert a == b
    assert len(a) == 16
    assert all(0.0 <= v < 1.0 for _, _, v in a)


def test_decode_resize_ppm_known_pixels(spark):
    # 4x2 image downscaled into a 2x2 box -> 2x1 output; nearest
    # neighbor picks source pixel (y*h//oh, x*w//ow)
    w, h = 4, 2
    pixels = bytes(range(w * h * 3))  # byte p = p
    raw = f"P6\n{w} {h}\n255\n".encode() + pixels
    out = M.decode_resize_ppm(_df(spark, [raw]), "payload", "doc_id", target=2)
    rows = {(r["y"], r["x"]): (r["r"], r["g"], r["b"]) for r in out.collect()}
    # ow = max(1, round(4 * 0.5)) = 2, oh = max(1, round(2 * 0.5)) = 1
    assert set(rows) == {(0, 0), (0, 1)}
    # x=0 -> sx = 0*4//2 = 0 -> bytes 0..2 ; x=1 -> sx = 1*4//2 = 2 -> bytes 6..8
    assert rows[(0, 0)] == (0, 1, 2)
    assert rows[(0, 1)] == (6, 7, 8)


def test_decode_resize_ppm_never_upscales(spark):
    w, h = 2, 3
    raw = f"P6\n{w} {h}\n255\n".encode() + bytes(w * h * 3)
    out = M.decode_resize_ppm(_df(spark, [raw]), "payload", "doc_id", target=8)
    rows = out.collect()
    assert {(r["y"], r["x"]) for r in rows} == {
        (y, x) for y in range(h) for x in range(w)
    }


def test_decode_resize_ppm_rejects_non_ppm(spark):
    import pytest

    out = M.decode_resize_ppm(_df(spark, [b"JUNK"]), "payload", "doc_id")
    with pytest.raises(Exception):
        out.collect()


def _wav_bytes(rate, samples, junk=b""):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if junk:
        # odd-sized unknown chunk: the walker must skip the pad byte
        chunks += b"LIST" + struct.pack("<I", len(junk)) + junk
        if len(junk) % 2:
            chunks += b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_decoder_chunk_walk_and_features(spark):
    from isilon_hadoop_tools_spark.multimodal import decode_wav_features

    df = spark.createDataFrame(
        [
            (1, _wav_bytes(8000, [100, -200, 300, -400])),
            # junk LIST chunk of odd size between fmt and data
            (2, _wav_bytes(16000, [0, 5, -5], junk=b"junk!")),
        ],
        "doc_id long, payload binary",
    )
    out = {
        r.doc_id: r
        for r in decode_wav_features(df, "payload", "doc_id").collect()
    }
    r1 = out[1]
    assert (r1.sample_rate, r1.n_samples, r1.peak, r1.n_cross) == (
        8000, 4, 400, 3
    )
    r2 = out[2]
    # zero sample: 0*5 and 5*-5 -> exactly one strict crossing
    assert (r2.sample_rate, r2.n_samples, r2.peak, r2.n_cross) == (
        16000, 3, 5, 1
    )


def test_wav_decoder_rejects_non_riff(spark):
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from isilon_hadoop_tools_spark.multimodal import decode_wav_features

    df = spark.createDataFrame(
        [(1, b"NOTAWAVFILE")], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="not a RIFF/WAVE payload"):
        decode_wav_features(df, "payload", "doc_id").collect()


def _bmp_bytes(width, height, px):
    """Hand-build a 24-bit BI_RGB BMP: px(x, y_top) -> (r, g, b)."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    body = b""
    for ystore in range(height):
        y = height - 1 - ystore
        row = b""
        for x in range(width):
            r, g, b = px(x, y)
            row += bytes([b, g, r])
        body += row + b"\x00" * (stride - width * 3)
    header = (
        b"BM"
        + struct.pack("<I", 54 + len(body))
        + b"\x00" * 4
        + struct.pack("<I", 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
    )
    return header + body


def test_decode_bmp_features_known_image(spark):
    from isilon_hadoop_tools_spark.multimodal import decode_bmp_features

    # 3x2, px value = 10*x + y per channel with distinct offsets:
    # padding (3*3=9 -> stride 12) and the bottom-up flip both active
    payload = _bmp_bytes(3, 2, lambda x, y: (10 * x + y, 100 + x, 200 + y))
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id LONG, payload BINARY")
    r = decode_bmp_features(df, "payload", "doc_id").collect()[0]
    assert (r.width, r.height, r.n_pixels) == (3, 2, 6)
    assert r.sum_r == sum(10 * x + y for x in range(3) for y in range(2))
    assert r.sum_g == sum(100 + x for x in range(3) for y in range(2))
    assert r.sum_b == sum(200 + y for x in range(3) for y in range(2))
    # top-left = (x=0, y_top=0): r=0, g=100, b=200 — proves the
    # bottom-up flip and BGR channel order both happened
    assert r.top_left == 0 * 65536 + 100 * 256 + 200


def test_decode_bmp_features_rejects_malformed(spark):
    import pytest
    from pyspark.errors import PythonException

    from isilon_hadoop_tools_spark.multimodal import decode_bmp_features

    good = _bmp_bytes(2, 2, lambda x, y: (1, 2, 3))
    bad_magic = b"XX" + good[2:]
    truncated = good[:-4]  # pixel array shorter than stride*height
    for payload in (bad_magic, truncated):
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id LONG, payload BINARY"
        )
        with pytest.raises(PythonException):
            decode_bmp_features(df, "payload", "doc_id").collect()


def test_binary_file_source_to_bmp_pipeline(spark, tmp_path):
    """Multimodal ingest path: raw image files on disk read through
    Spark's `binaryFile` source (path/length/content columns, the
    100 TB object-store ingest shape) and decoded by the real BMP
    codec — proves the source's binary `content` column feeds the
    Arrow decode stage unchanged."""
    import os

    from pyspark.sql import functions as F

    from isilon_hadoop_tools_spark.multimodal import decode_bmp_features

    d = str(tmp_path / "imgs")
    os.makedirs(d)
    for i in (3, 5):
        payload = _bmp_bytes(i, 2, lambda x, y: (x + i, y, 7))
        with open(os.path.join(d, f"img{i}.bmp"), "wb") as f:
            f.write(payload)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(d)
        .select(
            F.regexp_extract(F.col("path"), r"img(\d+)\.bmp", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
            "length",
        )
    )
    out = {r.doc_id: r for r in decode_bmp_features(files, "payload", "doc_id").collect()}
    assert out[3].width == 3 and out[5].width == 5
    assert out[3].top_left == 3 * 65536 + 0 * 256 + 7  # px(0,0) = (3,0,7)


def test_bmp_ahash_identical_images_same_hash(spark):
    from isilon_hadoop_tools_spark.multimodal import bmp_ahash

    # identical images share the hash; a brightness-inverted image
    # flips (most of) it; a uniform image has hash 0 (no cell above
    # the mean)
    img = _bmp_bytes(8, 8, lambda x, y: (30 * ((x + y) % 2),) * 3)
    inv = _bmp_bytes(8, 8, lambda x, y: (30 * ((x + y + 1) % 2),) * 3)
    flat = _bmp_bytes(8, 8, lambda x, y: (50, 50, 50))
    df = spark.createDataFrame(
        [(1, bytearray(img)), (2, bytearray(img)),
         (3, bytearray(inv)), (4, bytearray(flat))],
        "doc_id LONG, payload BINARY",
    )
    out = {r.doc_id: r.ahash for r in bmp_ahash(df, "payload", "doc_id").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert out[4] == 0
    # checkerboard vs inverted checkerboard: every sampled bit flips
    assert out[1] ^ out[3] == (1 << 36) - 1


def test_bmp_ahash_rejects_grid_overflow(spark):
    import pytest

    from isilon_hadoop_tools_spark.multimodal import bmp_ahash

    df = spark.createDataFrame([(1, bytearray(b"BM"))], "doc_id LONG, payload BINARY")
    with pytest.raises(ValueError):
        bmp_ahash(df, "payload", "doc_id", grid=8)


def test_bmp_dhash_exposure_invariant_ahash_not(spark):
    from isilon_hadoop_tools_spark.multimodal import bmp_ahash, bmp_dhash

    # horizontal gradient image vs +40-brightness copy: dHash (edge
    # structure) is identical, while the images themselves differ
    base = _bmp_bytes(8, 8, lambda x, y: (x * 10, x * 10, x * 10))
    brighter = _bmp_bytes(8, 8, lambda x, y: (x * 10 + 40,) * 3)
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(brighter))],
        "doc_id LONG, payload BINARY",
    )
    dh = {r.doc_id: r.dhash for r in bmp_dhash(df, "payload", "doc_id").collect()}
    assert dh[1] == dh[2]  # gradient structure unchanged
    # monotone increasing left->right: every dhash bit set
    assert dh[1] == (1 << 36) - 1
    ah = {r.doc_id: r.ahash for r in bmp_ahash(df, "payload", "doc_id").collect()}
    assert ah[1] == ah[2]  # threshold-vs-own-mean is also shift-safe here


# ---- PNG codec (fourth real codec: compressed images) ----


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_from_scanlines(w: int, h: int, scanlines: bytes) -> bytes:
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


# 2x2 RGB test image used by the hand-computed filter vectors:
# row0: (10,20,30) (40,60,80); row1: (5,5,5) (255,0,128)
_PNG_PIX = [[(10, 20, 30), (40, 60, 80)], [(5, 5, 5), (255, 0, 128)]]


def _assert_png_pixels(payload: bytes):
    import numpy as np

    from isilon_hadoop_tools_spark.multimodal import png_decode_rgb

    out = png_decode_rgb(payload)
    assert out.shape == (2, 2, 3)
    assert out.tolist() == [[list(p) for p in row] for row in _PNG_PIX]
    assert out.dtype == np.uint8


def test_png_unfilter_hand_computed_vectors():
    # filtered bytes below are HAND-DERIVED from RFC 2083 section 6 —
    # they verify the decoder against the spec independently of the
    # encoder (a matched encoder/decoder bug pair cannot cancel here)
    row0_sub = bytes([1, 10, 20, 30, 30, 40, 50])
    # row1 under each filter type, prev row = row0 recon:
    row1_up = bytes([2, 251, 241, 231, 215, 196, 48])
    row1_avg = bytes([3, 0, 251, 246, 233, 224, 86])
    row1_paeth = bytes([4, 251, 241, 231, 215, 196, 48])
    row1_none = bytes([0, 5, 5, 5, 255, 0, 128])
    for row1 in (row1_none, row1_up, row1_avg, row1_paeth):
        _assert_png_pixels(_png_from_scanlines(2, 2, row0_sub + row1))


def test_png_encode_decode_roundtrip_all_filters():
    import numpy as np

    from isilon_hadoop_tools_spark.multimodal import (
        png_decode_rgb,
        png_encode_rgb,
    )

    rng = np.random.default_rng(42)
    pix = rng.integers(0, 256, (5, 4, 3))
    for f in range(5):
        assert (png_decode_rgb(png_encode_rgb(pix, [f])) == pix).all()
    # mixed filters + multi-IDAT tolerance: split the IDAT in two
    payload = png_encode_rgb(pix, [0, 1, 2, 3, 4])
    assert (png_decode_rgb(payload) == pix).all()


def test_png_decoder_skips_ancillary_chunks():
    import numpy as np

    from isilon_hadoop_tools_spark.multimodal import png_decode_rgb

    scan = bytes([0, 10, 20, 30, 40, 60, 80]) + bytes(
        [0, 5, 5, 5, 255, 0, 128]
    )
    raw = _png_from_scanlines(2, 2, scan)
    # splice a tEXt chunk between IHDR and IDAT
    ihdr_end = 8 + 12 + 13
    spliced = (
        raw[:ihdr_end]
        + _png_chunk(b"tEXt", b"comment\x00hello")
        + raw[ihdr_end:]
    )
    assert (
        png_decode_rgb(spliced)
        == np.array(_PNG_PIX, dtype=np.uint8)
    ).all()


def test_png_decoder_rejects_malformed():
    import struct
    import zlib

    import pytest

    from isilon_hadoop_tools_spark.multimodal import (
        png_decode_rgb,
        png_encode_rgb,
    )

    import numpy as np

    pix = np.zeros((2, 2, 3), dtype=np.int64)
    good = png_encode_rgb(pix)

    with pytest.raises(ValueError, match="not a PNG"):
        png_decode_rgb(b"BM" + good[2:])
    with pytest.raises(ValueError, match="CRC"):
        bad = bytearray(good)
        bad[-5] ^= 0xFF  # corrupt IEND CRC
        png_decode_rgb(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        # cut mid-IDAT: the chunk header promises more data than the
        # buffer holds
        png_decode_rgb(good[: 8 + 25 + 17])
    with pytest.raises(ValueError, match="missing IHDR or IEND"):
        png_decode_rgb(good[:-6])  # IEND chunk sheared off
    with pytest.raises(ValueError, match="IDAT before IHDR"):
        idat = _png_chunk(b"IDAT", zlib.compress(b"\x00" * 7))
        png_decode_rgb(b"\x89PNG\r\n\x1a\n" + idat)
    with pytest.raises(ValueError, match="truecolor"):
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0)  # RGBA
        png_decode_rgb(
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00"))
            + _png_chunk(b"IEND", b"")
        )
    with pytest.raises(ValueError, match="interlaced"):
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        png_decode_rgb(
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 14))
            + _png_chunk(b"IEND", b"")
        )
    with pytest.raises(ValueError, match="size mismatch"):
        png_decode_rgb(_png_from_scanlines(2, 2, b"\x00" * 13))
    with pytest.raises(ValueError, match="unknown filter"):
        scan = bytes([7, 0, 0, 0, 0, 0, 0]) + bytes([0] * 7)
        png_decode_rgb(_png_from_scanlines(2, 2, scan))
    with pytest.raises(ValueError, match="missing IHDR or IEND"):
        png_decode_rgb(good[: 8 + 25])  # signature + IHDR only


def test_decode_png_features_matches_bmp_contract(spark):
    import numpy as np

    from isilon_hadoop_tools_spark import multimodal as M

    pix = np.arange(2 * 3 * 3).reshape(2, 3, 3) % 256
    rows = [(1, M.png_encode_rgb(pix, [0, 4])), (2, M.png_encode_rgb(pix))]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    out = {
        r["doc_id"]: r
        for r in M.decode_png_features(df, "payload", "doc_id").collect()
    }
    # identical pixels regardless of filter choice
    for did in (1, 2):
        r = out[did]
        assert (r["width"], r["height"], r["n_pixels"]) == (3, 2, 6)
        assert r["sum_r"] == int(pix[..., 0].sum())
        assert r["sum_g"] == int(pix[..., 1].sum())
        assert r["sum_b"] == int(pix[..., 2].sum())
        assert r["top_left"] == 0 * 65536 + 1 * 256 + 2


def test_png_ahash_matches_bmp_ahash_on_identical_pixels(spark):
    # the cross-container contract: identical pixels produce identical
    # fingerprints whether they arrive as BMP or PNG, so one band
    # index serves a mixed corpus
    import struct

    import numpy as np

    from isilon_hadoop_tools_spark import multimodal as M

    rng = np.random.default_rng(11)
    pix = rng.integers(0, 256, (5, 7, 3))  # top-down RGB

    def bmp_bytes(p):
        h, w, _ = p.shape
        stride = (w * 3 + 3) // 4 * 4
        body = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up rows
            row = bytearray()
            for x in range(w):
                r, g, b = (int(v) for v in p[y, x])
                row += bytes([b, g, r])  # BGR
            row += bytes(stride - 3 * w)
            body += row
        header = (
            b"BM"
            + struct.pack("<I", 54 + len(body))
            + b"\x00\x00\x00\x00"
            + struct.pack("<I", 54)
            + struct.pack("<I", 40)
            + struct.pack("<ii", w, h)
            + struct.pack("<H", 1)
            + struct.pack("<H", 24)
            + struct.pack("<I", 0)
            + struct.pack("<I", len(body))
            + struct.pack("<ii", 2835, 2835)
            + struct.pack("<II", 0, 0)
        )
        return bytes(header + body)

    bdf = spark.createDataFrame(
        [(1, bmp_bytes(pix))], "doc_id LONG, payload BINARY"
    )
    pdf = spark.createDataFrame(
        [(1, M.png_encode_rgb(pix, [0, 1, 2, 3, 4]))],
        "doc_id LONG, payload BINARY",
    )
    bh = M.bmp_ahash(bdf, "payload", "doc_id").collect()[0]
    ph = M.png_ahash(pdf, "payload", "doc_id").collect()[0]
    assert (bh["width"], bh["height"]) == (ph["width"], ph["height"]) == (7, 5)
    assert bh["ahash"] == ph["ahash"]


def test_png_grayscale_decode_hand_vectors():
    # 8-bit grayscale (color type 0): bpp=1, so Sub's "left" is the
    # previous BYTE. Hand-derived per RFC 2083: row0 Sub over
    # [10, 20, 30] -> raw [10, 10, 10]; row1 Paeth over [5, 25, 24]
    # with prev=[10,20,30]: i=0 pred=up=10 -> 251; i=1 left=5, up=20,
    # ul=10 -> p=15, pa=10, pb=5 -> up=20 -> 5; i=2 left=25, up=30,
    # ul=20 -> p=35, pa=10, pb=5 -> up=30 -> 250
    import struct
    import zlib

    import numpy as np

    from isilon_hadoop_tools_spark.multimodal import png_decode_rgb

    scan = bytes([1, 10, 10, 10]) + bytes([4, 251, 5, 250])
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan))
        + _png_chunk(b"IEND", b"")
    )
    out = png_decode_rgb(payload)
    want = np.array([[10, 20, 30], [5, 25, 24]], dtype=np.uint8)
    assert out.shape == (2, 3, 3)
    # grayscale replicates into all three channels
    for ch in range(3):
        assert (out[..., ch] == want).all()


def test_png_rejects_palette_color_type():
    import struct
    import zlib

    import pytest

    from isilon_hadoop_tools_spark.multimodal import png_decode_rgb

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)  # palette
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truecolor RGB or grayscale"):
        png_decode_rgb(payload)


# ---------------------------------------------------------------------
# GIF codec (L16e): LZW + palette — the fifth real codec
# ---------------------------------------------------------------------


def _gif_pal():
    import numpy as np

    i = np.arange(256)
    return np.stack([i, 255 - i, (7 * i + 13) % 256], axis=-1)


def test_gif_roundtrip_exact_across_width_growth_and_reset(spark):
    """Encode/decode roundtrips bit-exact across sizes that stay at
    9-bit codes, grow through 10/11/12 bits, and force a 4096-entry
    dictionary reset (80x90 of near-random indices)."""
    import numpy as np

    from isilon_hadoop_tools_spark import multimodal as M

    for h, w, mod in [(1, 1, 256), (5, 7, 256), (64, 64, 256), (80, 90, 7)]:
        y, x = np.mgrid[0:h, 0:w]
        idx = (3 * x + 7 * y + x * y) % mod
        pix = M.gif_decode_rgb(M.gif_encode(idx, _gif_pal()))
        assert pix.shape == (h, w, 3)
        assert (pix[..., 0] == idx % 256).all()
        assert (pix[..., 1] == (255 - idx) % 256).all()
        assert (pix[..., 2] == (idx * 7 + 13) % 256).all()


def test_gif_decodes_external_canonical_1x1(spark):
    """The canonical 1x1 transparent GIF (89a, graphics-control
    extension, 2-color table, 2-bit LZW, and NO complete end code in
    the data stream — historic encoders stop at the sub-block
    terminator): exercises the extension skip, a non-8 minimum code
    size, and the expected-pixel-count stop."""
    import base64

    from isilon_hadoop_tools_spark import multimodal as M

    one = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    pix = M.gif_decode_rgb(one)
    assert pix.shape == (1, 1, 3)
    assert pix[0, 0].tolist() == [0, 0, 0]


def test_gif_typed_rejects(spark):
    """Malformed payloads raise ValueError with a reason — never
    garbage pixels: bad signature, truncation, interlace flag, local
    color table, missing image, pixel-count mismatch."""
    import numpy as np
    import pytest

    from isilon_hadoop_tools_spark import multimodal as M

    good = bytearray(M.gif_encode(np.zeros((2, 2), dtype=np.int64), _gif_pal()))
    with pytest.raises(ValueError, match="not a GIF"):
        M.gif_decode_rgb(b"PNG..nope")
    with pytest.raises(ValueError, match="truncated"):
        M.gif_decode_rgb(bytes(good[:10]))
    interlaced = bytearray(good)
    img_at = 13 + 3 * 256  # header+LSD then the full global palette
    assert good[img_at] == 0x2C
    interlaced[img_at + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        M.gif_decode_rgb(bytes(interlaced))
    local = bytearray(good)
    local[img_at + 9] |= 0x80
    with pytest.raises(ValueError, match="local color table"):
        M.gif_decode_rgb(bytes(local))
    no_image = good[:6] + good[6:13] + good[13 : 13 + 768] + b"\x3b"
    with pytest.raises(ValueError, match="no image"):
        M.gif_decode_rgb(bytes(no_image))
    wrong_dims = bytearray(good)
    wrong_dims[img_at + 5] = 3  # claim w=3 for a 2x2 index stream
    with pytest.raises(ValueError, match="pixels|range|code"):
        M.gif_decode_rgb(bytes(wrong_dims))


def test_gif_features_stage_matches_by_hand(spark):
    """decode_gif_features over a two-image DataFrame: sums and
    top_left recomputed by hand from the index/palette formulas."""
    import numpy as np

    from isilon_hadoop_tools_spark import multimodal as M

    rows = []
    for doc_id in (3, 10):
        w, h = doc_id % 6 + 2, doc_id % 4 + 2
        y, x = np.mgrid[0:h, 0:w]
        idx = (doc_id + 3 * x + 7 * y) % 256
        rows.append((doc_id, bytearray(M.gif_encode(idx, _gif_pal()))))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in M.decode_gif_features(df, "payload", "doc_id").collect()
    }
    for doc_id in (3, 10):
        w, h = doc_id % 6 + 2, doc_id % 4 + 2
        y, x = np.mgrid[0:h, 0:w]
        idx = (doc_id + 3 * x + 7 * y) % 256
        r = got[doc_id]
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_r"] == int(idx.sum())
        assert r["sum_g"] == int((255 - idx).sum())
        assert r["sum_b"] == int(((idx * 7 + 13) % 256).sum())
        i0 = doc_id % 256
        assert r["top_left"] == i0 * 65536 + (255 - i0) * 256 + (7 * i0 + 13) % 256


def test_gif_ahash_matches_bmp_ahash_on_identical_pixels(spark):
    """The mosaic contract across a THIRD container: a GIF and a BMP
    holding the same pixels produce the same ahash, so one band index
    serves a mixed BMP/PNG/GIF corpus."""
    import numpy as np

    from isilon_hadoop_tools_spark import multimodal as M

    base = 9
    w, h = base % 5 + 2, base % 3 + 2
    y, x = np.mgrid[0:h, 0:w]
    pix = np.stack(
        [
            (base + 3 * x + 7 * y) % 256,
            (base * 2 + 5 * x + 11 * y) % 256,
            (base * 3 + 13 * x + 17 * y) % 256,
        ],
        axis=-1,
    )
    flat = pix.reshape(-1, 3)
    pal = np.unique(flat, axis=0)
    lut = {tuple(c): i for i, c in enumerate(pal)}
    idx = np.array([lut[tuple(c)] for c in flat]).reshape(h, w)
    gif_raw = M.gif_encode(idx, pal)
    assert (M.gif_decode_rgb(gif_raw) == pix).all()
    gdf = spark.createDataFrame(
        [(1, bytearray(gif_raw))], "doc_id long, payload binary"
    )
    got = M.gif_ahash(gdf, "payload", "doc_id").collect()[0]
    # analytic mosaic twin (the oracle formula)
    gray = pix.sum(axis=-1)
    gx = np.arange(6) * w // 6
    gy = np.arange(6) * h // 6
    cells = gray[np.ix_(gy, gx)]
    bits = (36 * cells > cells.sum()).astype(np.int64)
    expect = int((bits * (1 << np.arange(36).reshape(6, 6))).sum())
    assert got["ahash"] == expect


def test_wav_goertzel_hash_gain_invariant_and_rejects_short(spark):
    """Doubling every sample scales every Goertzel energy by 4 and
    flips no energy-derivative bit — identical fingerprint; a clip
    shorter than frames*frame raises the typed reject."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    samples = [((i * 37) % 200) - 100 for i in range(144)]
    quiet = _wav_bytes(8000, samples)
    loud = _wav_bytes(8000, [2 * s for s in samples])
    df = spark.createDataFrame(
        [(1, bytearray(quiet)), (2, bytearray(loud))],
        "doc_id long, payload binary",
    )
    got = {
        r["doc_id"]: r
        for r in M.wav_goertzel_hash(df, "payload", "doc_id").collect()
    }
    assert got[1]["n_samples"] == 144
    assert got[1]["ahash"] == got[2]["ahash"]
    assert 0 <= got[1]["ahash"] < (1 << 32)
    short = spark.createDataFrame(
        [(3, bytearray(_wav_bytes(8000, samples[:100])))],
        "doc_id long, payload binary",
    )
    with pytest.raises(PythonException, match="fingerprint needs"):
        M.wav_goertzel_hash(short, "payload", "doc_id").collect()


def test_goertzel_tables_shared_constants(spark):
    """The tap tables are the single source of constants: frame-16
    band-1 taps start at cos=scale, sin=0, and every |c|,|s| is
    bounded by the scale."""
    tabs = M.goertzel_tables(16, 4, 1000)
    assert len(tabs) == 64
    by = {(k, i): (c, s) for k, i, c, s in tabs}
    assert by[(1, 0)] == (1000, 0)
    assert by[(2, 4)] == (-1000, 0)  # cos(pi) at k=2, i=4
    assert all(abs(c) <= 1000 and abs(s) <= 1000 for _, _, c, s in tabs)


def test_wav_goertzel_detects_pure_tone(spark):
    """A pure k=2 tone (period 8 at frame 16) concentrates energy in
    band 2: when the tone's amplitude ramps up across frames, band-2
    bits are all 1 while a flat-noise clip yields a different code —
    the fingerprint actually hears frequency content."""
    import math

    ramp = []
    for f in range(9):
        amp = 100 * (f + 1)
        ramp += [
            int(amp * math.cos(2 * math.pi * 2 * i / 16)) for i in range(16)
        ]
    df = spark.createDataFrame(
        [(1, bytearray(_wav_bytes(8000, ramp)))], "doc_id long, payload binary"
    )
    h = M.wav_goertzel_hash(df, "payload", "doc_id").collect()[0]["ahash"]
    # band 2 (k=2) bit positions: idx = (f-1)*4 + 1 for f=1..8
    for f in range(1, 9):
        assert (h >> ((f - 1) * 4 + 1)) & 1 == 1


# ---------------------------------------------------------------------
# Y4M video codec (L16h): the fourth modality
# ---------------------------------------------------------------------


def _y4m_frames(base, n=8, w=8, h=4):
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(base + 3 * x + 7 * y + 11 * f) % 256 for f in range(n)]
    ).astype(np.uint8)


def test_y4m_roundtrip_and_frame_walk(spark):
    import numpy as np

    fr = _y4m_frames(5)
    raw = M.y4m_encode(fr)
    back = M.y4m_decode(raw)
    assert back.shape == (8, 4, 8)
    assert (back == fr).all()
    # FRAME parameters after the marker are legal and skipped
    patched = raw.replace(b"FRAME\n", b"FRAME Xparam\n", 1)
    assert (M.y4m_decode(patched) == fr).all()


def test_y4m_typed_rejects(spark):
    import numpy as np
    import pytest

    fr = _y4m_frames(1)
    raw = M.y4m_encode(fr)
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        M.y4m_decode(b"RIFF....")
    with pytest.raises(ValueError, match="colorspace"):
        M.y4m_decode(raw.replace(b"C420", b"C444"))
    with pytest.raises(ValueError, match="truncated"):
        M.y4m_decode(raw[:-5])
    with pytest.raises(ValueError, match="FRAME"):
        M.y4m_decode(raw.replace(b"FRAME\n", b"FRAMX\n", 1))
    hdr_only = raw[: raw.index(b"\n") + 1]
    with pytest.raises(ValueError, match="no frames"):
        M.y4m_decode(hdr_only)
    with pytest.raises(ValueError, match="even"):
        M.y4m_encode(np.zeros((1, 3, 8), dtype=np.uint8))


def test_y4m_video_hash_temporal_order_sensitivity(spark):
    """Reversing the frame order changes the fingerprint (temporal
    structure is part of the code), while identical videos collide;
    per-frame bits recomputed by hand from the mosaic rule."""
    import numpy as np

    import numpy as np

    # content must vary NON-uniformly per frame (the additive-in-f
    # fixture shifts all cells equally, which the mean-threshold bits
    # are invariant to): scale x by the frame index instead
    y, x = np.mgrid[0:4, 0:8]
    fr = np.stack(
        [(9 + 3 * x * (f + 1) + 7 * y) % 256 for f in range(8)]
    ).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(M.y4m_encode(fr))),
            (2, bytearray(M.y4m_encode(fr))),
            (3, bytearray(M.y4m_encode(fr[::-1].copy()))),
        ],
        "doc_id long, payload binary",
    )
    got = {
        r["doc_id"]: r["vhash"]
        for r in M.y4m_video_hash(df, "payload", "doc_id").collect()
    }
    assert got[1] == got[2]
    expect = 0
    for f in range(8):
        cells = [int(fr[f, gy * 2, gx * 4]) for gy in (0, 1) for gx in (0, 1)]
        tot = sum(cells)
        for ci, cv in enumerate(cells):
            if 4 * cv > tot:
                expect |= 1 << (f * 4 + ci)
    assert got[1] == expect
    # reversed clip differs: temporal order is part of the code
    assert got[3] != got[1]


def _block_gray(base: int):
    import numpy as np

    wb, hb = base % 3 + 1, base % 2 + 1
    by, bx = np.mgrid[0:hb, 0:wb]
    v = (base + 37 * bx + 73 * by) % 256
    pix = np.repeat(np.repeat(v, 8, axis=0), 8, axis=1)
    return np.stack([pix] * 3, axis=-1)


def test_jpeg_roundtrip_exact_on_block_constant_gray():
    """The fixture regime: constant 8x8 gray blocks put all energy in
    the DC coefficient (losslessly quantized at q=1) and pin chroma
    at exactly 128, so the LOSSY format round-trips pixel-exact —
    the property the analytic oracles stand on."""
    import numpy as np

    for base in (0, 7, 123, 199, 254):
        rgb = _block_gray(base)
        dec = M.jpeg_decode_rgb(M.jpeg_encode_rgb(rgb))
        assert dec.shape == rgb.shape
        assert (dec == rgb).all(), base


def test_jpeg_general_images_near_lossless_at_q1():
    """Arbitrary RGB content at the all-ones quant table: the only
    loss is float DCT + integer coefficient rounding — decoded pixels
    stay within a few grey levels; a heavier table is visibly lossy
    but still decodes (the format working as designed)."""
    import numpy as np

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (16, 24, 3))
    dec = M.jpeg_decode_rgb(M.jpeg_encode_rgb(img))
    assert int(np.abs(dec.astype(int) - img).max()) <= 4
    lossy = M.jpeg_decode_rgb(M.jpeg_encode_rgb(img, quant=[16] * 64))
    assert lossy.shape == img.shape
    assert int(np.abs(lossy.astype(int) - img).max()) > 4


def test_jpeg_malformed_payloads_raise():
    import numpy as np
    import pytest

    good = M.jpeg_encode_rgb(_block_gray(5))
    cases = [
        b"",  # empty
        b"GIF89a",  # wrong magic
        good[:-10],  # truncated entropy stream / missing EOI markers
        good[:2],  # SOI only
        good[:2] + good[4:],  # broken marker alignment
    ]
    for bad in cases:
        with pytest.raises(ValueError):
            M.jpeg_decode_rgb(bad)
    # non-1x1 sampling rejects: patch the SOF0 sampling byte
    sof_at = good.find(b"\xff\xc0")
    patched = bytearray(good)
    # SOF0: FF C0 len(2) prec(1) h(2) w(2) nc(1) then (cid, hv, tq)
    # per component — the first component's sampling byte is +11
    patched[sof_at + 11] = 0x22  # first component 2x2
    with pytest.raises(ValueError, match="sampling"):
        M.jpeg_decode_rgb(bytes(patched))


def test_jpeg_png_cross_codec_identical_ahash(spark):
    """The cross-container dedup property extended to the DCT format:
    a JPEG and a PNG of the SAME pixels produce the IDENTICAL mosaic
    aHash, so one band index serves a mixed corpus — possible only
    because the block-constant regime decodes exactly."""
    rows = []
    for doc_id, base in ((1, 42), (2, 42), (3, 99)):
        rows.append((doc_id, bytearray(M.jpeg_encode_rgb(_block_gray(base)))))
    jdf = spark.createDataFrame(rows, "doc_id long, payload binary")
    prows = []
    for doc_id, base in ((1, 42), (2, 42), (3, 99)):
        prows.append(
            (doc_id, bytearray(M.png_encode_rgb(_block_gray(base))))
        )
    pdf = spark.createDataFrame(prows, "doc_id long, payload binary")
    jh = {r["doc_id"]: r["ahash"]
          for r in M.jpeg_ahash(jdf, "payload", "doc_id").collect()}
    ph = {r["doc_id"]: r["ahash"]
          for r in M.png_ahash(pdf, "payload", "doc_id").collect()}
    assert jh == ph
    assert jh[1] == jh[2] != jh[3]


def test_hash_recall_query_evaluates_id_prefix_sample(spark, monkeypatch):
    # the recall eval's truth pass is quadratic and refuses large
    # inputs, so the suite query evaluates a doc_id prefix; with the
    # prefix cut below the smoke table it must equal the eval run
    # directly on the prefix's hashes
    from conftest import SMOKE_SF_DIR

    from isilon_hadoop_tools_spark.operators.dedup import hamming_recall_eval
    from isilon_hadoop_tools_spark.suite import multimodal_queries as mq
    from isilon_hadoop_tools_spark.suite._shared import _bmp_payload_df

    monkeypatch.setattr(mq, "_BANDING_EVAL_DOCS", 120)
    payloads = _bmp_payload_df(spark, SMOKE_SF_DIR)
    hashes = (
        M.bmp_ahash(payloads, "payload", "doc_id")
        .select("doc_id", "ahash")
        .join(
            M.bmp_dhash(payloads, "payload", "doc_id").select(
                "doc_id", "dhash"
            ),
            "doc_id",
        )
        .filter(F.col("doc_id") < 120)
    )
    assert hashes.count() == 120  # of the smoke table's 500 docs
    want = hamming_recall_eval(
        hashes, "doc_id", ["ahash", "dhash"], bits=36, max_hamming=8, bands=6
    ).collect()
    got = mq.multimodal_hash_recall(spark, SMOKE_SF_DIR).collect()
    assert got == want
