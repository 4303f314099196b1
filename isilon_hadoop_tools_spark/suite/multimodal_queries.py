"""Suite queries — multimodal: binary codecs, perceptual hashes, unified tagged index.

Split from the original suite.py; registration order is enforced
centrally by the package __init__ via _CANONICAL_ORDER."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from isilon_hadoop_tools_spark import multimodal as M
from isilon_hadoop_tools_spark.operators import dedup, similarity

from isilon_hadoop_tools_spark.suite._shared import (
    REGISTRY,
    _PAYLOAD_SQL,
    _PPM_TARGET,
    _audio_near_dups_oracle,
    _bmp_payload_df,
    _bmp_payload_from,
    _doc_ids,
    _fresh_state,
    _gif_bmp_twin_payload_df,
    _gif_payload_df,
    _jpeg_payload_df,
    _jpeg_png_twin_payload_df,
    _payload_df,
    _png_payload_df,
    _ppm_payload_df,
    _sliced_stream,
    _t,
    _unified_near_dups_oracle,
    _wav_payload_df,
    _y4m_payload_df,
    query,
)


@query(
    "multimodal_metadata",
    oracle=f"""
    WITH payloads AS (SELECT doc_id, {_PAYLOAD_SQL} AS payload FROM documents)
    SELECT doc_id,
           octet_length(payload) AS size_bytes,
           md5(hex(payload)) AS content_hash,
           CASE WHEN left(hex(payload), 16) = '89504E470D0A1A0A' THEN 'image/png'
                WHEN left(hex(payload), 6) = 'FFD8FF' THEN 'image/jpeg'
                ELSE 'application/octet-stream' END AS mime
    FROM payloads
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads: byte size, content
    hash, magic-byte MIME sniffing — all JVM expressions, the payload
    never crosses into Python."""
    out = M.attach_metadata(_payload_df(spark, sf_dir), "payload")
    return out.select(
        "doc_id",
        F.col("meta.size_bytes").alias("size_bytes"),
        F.col("meta.content_hash").alias("content_hash"),
        F.col("meta.mime").alias("mime"),
    )


@query(
    "multimodal_binary_dedup",
    oracle=f"""
    WITH payloads AS (SELECT doc_id, {_PAYLOAD_SQL} AS payload FROM documents)
    SELECT md5(hex(payload)) AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM payloads GROUP BY 1
    """,
)
def multimodal_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup by content hash (fingerprint -> min id),
    the multimodal twin of ``dedup_exact_docs``."""
    return M.binary_dedup(_payload_df(spark, sf_dir), "payload", "doc_id")


@query(
    "multimodal_decode_stub",
    oracle=f"""
    WITH payloads AS (SELECT doc_id, {_PAYLOAD_SQL} AS payload FROM documents)
    SELECT doc_id,
           octet_length(payload) % 640 + 1 AS width,
           (octet_length(payload) * 7) % 480 + 1 AS height,
           3 AS channels
    FROM payloads
    """,
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode stage (stubbed codec): the
    schema contract, batch iteration, and column plumbing are real;
    the decoder body is a deterministic fake the oracle reproduces."""
    return M.decode_image_stub(_payload_df(spark, sf_dir), "payload", "doc_id")


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH payloads AS (SELECT doc_id, {_PAYLOAD_SQL} AS payload FROM documents),
    frames AS (
      SELECT doc_id, hex(payload) AS h,
             unnest(generate_series(1, octet_length(payload) % 5 + 1)) AS i
      FROM payloads
    )
    SELECT doc_id, i::INT AS frame_idx, md5(h || ':' || i) AS frame_hash
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage for video-like payloads (stubbed decoder):
    one output row per sampled frame, exercising the one-to-many
    mapInPandas shape the real pyav/ffmpeg loop would use."""
    return M.sample_frames_stub(_payload_df(spark, sf_dir), "payload", "doc_id")


@query(
    "multimodal_resize_stub",
    oracle=f"""
    WITH payloads AS (SELECT doc_id, {_PAYLOAD_SQL} AS payload FROM documents),
    dims AS (
      SELECT doc_id, hex(payload) AS hx,
             (octet_length(payload) % 640 + 1) AS src_w,
             ((octet_length(payload) * 7) % 480 + 1) AS src_h
      FROM payloads
    ),
    scaled AS (
      SELECT doc_id, hx, src_w, src_h,
             least(1.0, 64.0 / greatest(src_w, src_h)) AS scale
      FROM dims
    )
    SELECT doc_id, src_w::INT AS src_w, src_h::INT AS src_h,
           greatest(1, floor(src_w * scale + 0.5))::INT AS out_w,
           greatest(1, floor(src_h * scale + 0.5))::INT AS out_h,
           md5(hx || ':' || greatest(1, floor(src_w * scale + 0.5))::INT
                  || 'x' || greatest(1, floor(src_h * scale + 0.5))::INT)
             AS resized_hash
    FROM scaled
    """,
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize stage for image-like payloads (stubbed
    resampler): fit-to-64-box without upscaling, Arrow-batched
    mapInPandas with the real schema/batch contract."""
    return M.resize_image_stub(_payload_df(spark, sf_dir), "payload", "doc_id")


@query(
    "multimodal_feature_stub",
    oracle=f"""
    WITH payloads AS (SELECT doc_id, {_PAYLOAD_SQL} AS payload FROM documents),
    expanded AS (
      SELECT doc_id, hex(payload) AS hx, unnest(range(0, 8))::INT AS pos
      FROM payloads
    )
    SELECT doc_id, pos,
           round((('0x' || substr(md5(hx || ':' || pos), 1, 8))::BIGINT)
                 / 4294967296.0, 6) AS fval
    FROM expanded
    """,
)
def multimodal_feature_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction stage (stubbed embedding model): payload ->
    8-dim feature vector in the exploded gate form, the ANN-ready
    fan-out a real image/audio encoder produces."""
    return M.extract_features_stub(
        _payload_df(spark, sf_dir), "payload", "doc_id", dim=8
    )


@query(
    "multimodal_resize_real",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, (doc_id % 6 + 2)::BIGINT AS w,
             (doc_id % 4 + 2)::BIGINT AS h
      FROM documents
    ),
    od AS (
      SELECT doc_id, w, h,
             greatest(1, floor(w * least(1.0, {_PPM_TARGET}.0 / greatest(w, h))
                               + 0.5))::BIGINT AS ow,
             greatest(1, floor(h * least(1.0, {_PPM_TARGET}.0 / greatest(w, h))
                               + 0.5))::BIGINT AS oh
      FROM dims
    ),
    ys AS (
      SELECT doc_id, w, h, ow, oh,
             unnest(generate_series(0, oh - 1)) AS y
      FROM od
    ),
    grid AS (
      SELECT doc_id, w, h, ow, oh, y,
             unnest(generate_series(0, ow - 1)) AS x
      FROM ys
    )
    SELECT doc_id, y::INT AS y, x::INT AS x,
           ((doc_id * 31 + (((y * h) // oh * w + (x * w) // ow) * 3 + 0) * 7)
            % 256)::INT AS r,
           ((doc_id * 31 + (((y * h) // oh * w + (x * w) // ow) * 3 + 1) * 7)
            % 256)::INT AS g,
           ((doc_id * 31 + (((y * h) // oh * w + (x * w) // ow) * 3 + 2) * 7)
            % 256)::INT AS b
    FROM grid
    """,
)
def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path (no stub): binary P6 PPM payloads are built as
    actual bytes, then ``decode_resize_ppm`` parses the header and
    pixel buffer with pure numpy and nearest-neighbor resizes into a
    4x4 box. The oracle recomputes every
    output pixel analytically from the generator formula, so a wrong
    header parse, buffer offset, reshape, or resample index
    hash-fails. Covers both the downscale and the never-upscale
    branches (source dims straddle the target box)."""
    return M.decode_resize_ppm(
        _ppm_payload_df(spark, sf_dir), "payload", "doc_id", target=_PPM_TARGET
    )


@query(
    "multimodal_y4m_features",
    oracle="""
    WITH px AS (
      SELECT doc_id, f, x, unnest(generate_series(0, 3)) AS y
      FROM (
        SELECT doc_id, f, unnest(generate_series(0, 7)) AS x
        FROM (
          SELECT doc_id, unnest(generate_series(0, 7)) AS f
          FROM documents
        )
      )
    )
    SELECT doc_id, 8::INT AS width, 4::INT AS height, 8::INT AS n_frames,
           sum((doc_id + 3 * x + 7 * y + 11 * f) % 256)::BIGINT AS sum_y,
           (doc_id % 256)::INT AS first_tl,
           ((doc_id + 77) % 256)::INT AS last_tl
    FROM px GROUP BY doc_id
    """,
)
def multimodal_y4m_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sixth REAL codec and the FOURTH modality (video): YUV4MPEG2
    payloads — text stream header, FRAME markers, planar C420 —
    decoded by ``y4m_features`` (header tag parse, frame walk, Y
    plane slice), with dimensions, frame count, total luminance, and
    first/last top-left pixels recomputed analytically by the oracle;
    a wrong plane offset, frame split, or header parse hash-fails."""
    return M.y4m_features(
        _y4m_payload_df(spark, sf_dir), "payload", "doc_id"
    )


@query(
    "multimodal_video_near_dups",
    oracle="""
    WITH cells AS (
      SELECT doc_id, b, f, gy, unnest(generate_series(0, 1)) AS gx
      FROM (
        SELECT doc_id, b, f, unnest(generate_series(0, 1)) AS gy
        FROM (
          SELECT doc_id, doc_id % 200 AS b,
                 unnest(generate_series(0, 7)) AS f
          FROM documents
        )
      )
    ),
    vals AS (
      SELECT doc_id, f, gy, gx,
             (b + 3 * (gx * 4) + 7 * (gy * 2) + 11 * f) % 256 AS cy
      FROM cells
    ),
    tot AS (
      SELECT doc_id, f, sum(cy) AS t FROM vals GROUP BY doc_id, f
    ),
    hashes AS (
      SELECT v.doc_id,
             sum(CASE WHEN 4 * v.cy > t.t THEN
                   (1::BIGINT << (v.f * 4 + v.gy * 2 + v.gx))
                 ELSE 0 END)::BIGINT AS vhash
      FROM vals v JOIN tot t ON t.doc_id = v.doc_id AND t.f = v.f
      GROUP BY v.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.vhash, b.vhash))::BIGINT AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.vhash, b.vhash)) <= 3
    """,
)
def multimodal_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end VIDEO dedup (L16h) — the fourth modality through
    the shared banded hamming machinery: real Y4M payloads with
    planted duplicates → real decode → temporal mosaic fingerprint
    (per-frame 2x2 luminance aHash bits concatenated in time order,
    32 bits) → ``hamming_band_pairs`` (4 bands, hamming <= 3
    pigeonhole-complete). One index design now serves text, images,
    audio, and video; the oracle brute-forces all qualifying pairs
    from the analytic luminance model."""
    from isilon_hadoop_tools_spark.operators.dedup import hamming_band_pairs

    hashes = M.y4m_video_hash(
        _y4m_payload_df(spark, sf_dir, base_mod=200), "payload", "doc_id"
    )
    return hamming_band_pairs(
        hashes.select("doc_id", "vhash"), "vhash", "doc_id",
        bits=32, max_hamming=3, bands=4,
    )


@query("multimodal_audio_near_dups", oracle=_audio_near_dups_oracle())
def multimodal_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end AUDIO dedup (L16g) — the third modality through the
    shared banded hamming machinery: real WAV payloads with planted
    duplicates → real chunk-walk decode → integer Goertzel filterbank
    fingerprint (energy-derivative bits, gain-invariant) →
    ``hamming_band_pairs`` (32 bits, 4 bands, hamming <= 3 complete
    by pigeonhole). The oracle recomputes every tap, energy, and bit
    analytically from the SAME quantized tables, then brute-forces
    all qualifying pairs — one wrong tap constant, frame split, or
    derivative comparison hash-fails."""
    from isilon_hadoop_tools_spark.operators.dedup import hamming_band_pairs

    hashes = M.wav_goertzel_hash(
        _wav_payload_df(spark, sf_dir, base_mod=200, n_samples=144),
        "payload",
        "doc_id",
    )
    return hamming_band_pairs(
        hashes.select("doc_id", "ahash"), "ahash", "doc_id",
        bits=32, max_hamming=3, bands=4,
    )


@query(
    "multimodal_wav_features",
    oracle="""
    WITH n AS (
      SELECT doc_id, (doc_id % 16 + 4)::BIGINT AS n FROM documents
    ),
    samp AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM n
    ),
    vals AS (
      SELECT doc_id, i,
             (doc_id * 17 + i * 13) % 65536
               - CASE WHEN (doc_id * 17 + i * 13) % 65536 >= 32768
                      THEN 65536 ELSE 0 END AS s
      FROM samp
    ),
    wl AS (
      SELECT doc_id, s,
             lead(s) OVER (PARTITION BY doc_id ORDER BY i) AS s2
      FROM vals
    )
    SELECT doc_id, 8000::INT AS sample_rate,
           count(*) AS n_samples,
           max(abs(s))::BIGINT AS peak,
           sum(CASE WHEN s * s2 < 0 THEN 1 ELSE 0 END)::BIGINT AS n_cross,
           floor(sqrt(avg(s * s)) * 10000 + 0.5) / 10000 AS rms
    FROM wl GROUP BY doc_id
    """,
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL codec path (audio): canonical RIFF/WAVE PCM16
    payloads built as actual bytes, then ``decode_wav_features`` does
    a genuine chunk walk (magic check, fmt parse, word-aligned skip,
    data frombuffer) and extracts peak / zero-crossing / RMS
    features. The oracle recomputes every feature analytically from
    the sample generator, so a wrong chunk offset, endianness, or
    two's-complement decode hash-fails."""
    return M.decode_wav_features(
        _wav_payload_df(spark, sf_dir), "payload", "doc_id"
    )


@query(
    "multimodal_gif_features",
    oracle="""
    WITH dims AS (
      SELECT doc_id, (doc_id % 6 + 2) AS w, (doc_id % 4 + 2) AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM px
    ),
    idx AS (
      SELECT doc_id, w, h, (doc_id + 3 * x + 7 * y) % 256 AS i
      FROM pxy
    )
    SELECT doc_id, w::INT AS width, h::INT AS height,
           (w * h)::BIGINT AS n_pixels,
           sum(i)::BIGINT AS sum_r,
           sum(255 - i)::BIGINT AS sum_g,
           sum((7 * i + 13) % 256)::BIGINT AS sum_b,
           ((doc_id % 256) * 65536 + (255 - doc_id % 256) * 256
             + (7 * (doc_id % 256) + 13) % 256)::BIGINT AS top_left
    FROM idx GROUP BY doc_id, w, h
    """,
)
def multimodal_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth REAL codec — the palette/LZW compression family (L16e):
    real GIF87a payloads (global color table, variable-width LSB
    LZW with clear/end codes and sub-block framing) decoded by
    ``decode_gif_features`` — header walk, extension skip, LZW
    decompression, palette lookup — with the oracle recomputing
    per-channel sums and the top-left pixel analytically through the
    palette indirection; one wrong LZW code, width transition,
    palette entry, or sub-block stitch hash-fails. A genuinely
    different compression family from PNG's DEFLATE: dictionary
    codes, not Huffman+LZ77."""
    return M.decode_gif_features(
        _gif_payload_df(spark, sf_dir), "payload", "doc_id"
    )


@query(
    "multimodal_mixed_near_dups",
    oracle="""
    WITH dims AS (
      SELECT doc_id, doc_id % 200 AS base,
             (doc_id % 200 % 5 + 2) AS w, (doc_id % 200 % 3 + 2) AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id, base, w, h, unnest(generate_series(0, 35)) AS i
      FROM dims
    ),
    sampled AS (
      SELECT doc_id, base, i,
             ((i % 6) * w) // 6 AS sx, ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    gray AS (
      SELECT doc_id, i,
             (base + 3 * sx + 7 * sy) % 256
               + (base * 2 + 5 * sx + 11 * sy) % 256
               + (base * 3 + 13 * sx + 17 * sy) % 256 AS gv
      FROM sampled
    ),
    tot AS (SELECT doc_id, sum(gv) AS total FROM gray GROUP BY doc_id),
    hashes AS (
      SELECT g.doc_id,
             sum(CASE WHEN 36 * g.gv > t.total
                      THEN (1::BIGINT << g.i) ELSE 0 END)::BIGINT AS ahash
      FROM gray g JOIN tot t USING (doc_id) GROUP BY g.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
    """,
)
def multimodal_mixed_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-container image dedup — the production crawl reality
    (one corpus, many formats): alternating 200-doc blocks are stored
    as real BMP vs real GIF (byte-different containers, LZW vs raw
    BGR), both decoded by their REAL codecs into the same pixel
    model, hashed by the shared integer mosaic (``bmp_ahash`` /
    ``gif_ahash``), and fed into ONE pigeonhole band join. The
    container-agnostic oracle brute-forces all qualifying pairs from
    the analytic pixel model: a single cross-codec decode divergence
    or missed cross-container candidate pair hash-fails."""
    from isilon_hadoop_tools_spark.operators.dedup import hamming_band_pairs

    block = (F.col("doc_id") / 200).cast("long") % 2
    bmp = M.bmp_ahash(
        _bmp_payload_df(spark, sf_dir, base_mod=200).filter(block == 0),
        "payload", "doc_id",
    )
    gif = M.gif_ahash(
        _gif_bmp_twin_payload_df(spark, sf_dir).filter(block == 1),
        "payload", "doc_id",
    )
    hashes = bmp.select("doc_id", "ahash").unionByName(
        gif.select("doc_id", "ahash")
    )
    return hamming_band_pairs(
        hashes, "ahash", "doc_id", bits=36, max_hamming=4, bands=6
    )


@query(
    "multimodal_png_features",
    oracle="""
    WITH dims AS (
      SELECT doc_id, (doc_id % 6 + 2) AS w, (doc_id % 4 + 2) AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM px
    )
    SELECT doc_id, w::INT AS width, h::INT AS height,
           (w * h)::BIGINT AS n_pixels,
           sum((doc_id + 3 * x + 7 * y) % 256)::BIGINT AS sum_r,
           sum((doc_id * 2 + 5 * x + 11 * y) % 256)::BIGINT AS sum_g,
           sum((doc_id * 3 + 13 * x + 17 * y) % 256)::BIGINT AS sum_b,
           ((doc_id % 256) * 65536 + (doc_id * 2 % 256) * 256
             + (doc_id * 3 % 256))::BIGINT AS top_left
    FROM pxy GROUP BY doc_id, w, h
    """,
)
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth REAL codec — compressed images, the path that was
    stub-backed until round 9: real PNG payloads (CRC-correct chunks,
    zlib-deflated scanlines, per-row filter types cycling through all
    five) are decoded by ``decode_png_features`` — chunk walk + CRC32
    verification + inflate + Sub/Up/Average/Paeth unfiltering — and
    the oracle recomputes widths, per-channel sums, and the top-left
    pixel analytically, so one wrong filter prediction, CRC skip, or
    channel order hash-fails."""
    return M.decode_png_features(
        _png_payload_df(spark, sf_dir), "payload", "doc_id"
    )


@query(
    "multimodal_bmp_features",
    oracle="""
    WITH dims AS (
      SELECT doc_id, (doc_id % 5 + 2) AS w, (doc_id % 3 + 2) AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM px
    )
    SELECT doc_id, w::INT AS width, h::INT AS height,
           (w * h)::BIGINT AS n_pixels,
           sum((doc_id + 3 * x + 7 * y) % 256)::BIGINT AS sum_r,
           sum((doc_id * 2 + 5 * x + 11 * y) % 256)::BIGINT AS sum_g,
           sum((doc_id * 3 + 13 * x + 17 * y) % 256)::BIGINT AS sum_b,
           ((doc_id % 256) * 65536 + (doc_id * 2 % 256) * 256
             + (doc_id * 3 % 256))::BIGINT AS top_left
    FROM pxy GROUP BY doc_id, w, h
    """,
)
def multimodal_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third REAL codec path (image container): canonical 24-bit
    BI_RGB BMP payloads built as actual bytes, then
    ``decode_bmp_features`` parses both headers and reads the pixel
    array honoring bottom-up row order, 4-byte row padding, and BGR —
    the oracle recomputes widths, per-channel sums, and the top-left
    pixel analytically, so a wrong stride, row flip, or channel order
    hash-fails immediately."""
    return M.decode_bmp_features(
        _bmp_payload_df(spark, sf_dir), "payload", "doc_id"
    )


@query(
    "multimodal_bmp_ahash",
    oracle="""
    WITH dims AS (
      SELECT doc_id, (doc_id % 5 + 2) AS w, (doc_id % 3 + 2) AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id, w, h, unnest(generate_series(0, 35)) AS i
      FROM dims
    ),
    sampled AS (
      SELECT doc_id, w, h, i,
             ((i % 6) * w) // 6 AS sx, ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    gray AS (
      SELECT doc_id, w, h, i,
             (doc_id + 3 * sx + 7 * sy) % 256
               + (doc_id * 2 + 5 * sx + 11 * sy) % 256
               + (doc_id * 3 + 13 * sx + 17 * sy) % 256 AS gv
      FROM sampled
    ),
    tot AS (
      SELECT doc_id, sum(gv) AS total FROM gray GROUP BY doc_id
    )
    SELECT g.doc_id, any_value(g.w)::INT AS width,
           any_value(g.h)::INT AS height,
           sum(CASE WHEN 36 * g.gv > t.total
                    THEN (1::BIGINT << g.i) ELSE 0 END)::BIGINT AS ahash
    FROM gray g JOIN tot t USING (doc_id)
    GROUP BY g.doc_id
    """,
)
def multimodal_bmp_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprint (aHash) over the REAL BMP decode
    path: 6x6 nearest-neighbor luminance mosaic, division-free mean
    threshold (36·gray > Σgray keeps every bit integer-exact
    cross-engine) — the image near-dup primitive whose hamming
    distance feeds the same banded pair join the SimHash text path
    uses. The oracle recomputes all 36 bits analytically from the
    pixel generator."""
    return M.bmp_ahash(_bmp_payload_df(spark, sf_dir), "payload", "doc_id")


@query(
    "multimodal_image_near_dups",
    oracle="""
    WITH dims AS (
      SELECT doc_id, doc_id % 200 AS base,
             (doc_id % 200 % 5 + 2) AS w, (doc_id % 200 % 3 + 2) AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id, base, w, h, unnest(generate_series(0, 35)) AS i
      FROM dims
    ),
    sampled AS (
      SELECT doc_id, base, i,
             ((i % 6) * w) // 6 AS sx, ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    gray AS (
      SELECT doc_id, i,
             (base + 3 * sx + 7 * sy) % 256
               + (base * 2 + 5 * sx + 11 * sy) % 256
               + (base * 3 + 13 * sx + 17 * sy) % 256 AS gv
      FROM sampled
    ),
    tot AS (SELECT doc_id, sum(gv) AS total FROM gray GROUP BY doc_id),
    hashes AS (
      SELECT g.doc_id,
             sum(CASE WHEN 36 * g.gv > t.total
                      THEN (1::BIGINT << g.i) ELSE 0 END)::BIGINT AS ahash
      FROM gray g JOIN tot t USING (doc_id) GROUP BY g.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
    """,
)
def multimodal_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image dedup (the image twin of the SimHash text
    path): byte-real BMP payloads (doc_id % 200 base — duplicate
    images planted by construction) → real decode + aHash → generic
    pigeonhole band join (36 bits, 6 bands, hamming <= 4 < bands so
    candidate generation is complete). The oracle brute-forces ALL
    <= 4-hamming pairs, so a single pair missed by the banding — or a
    single wrong fingerprint bit — hash-fails."""
    from isilon_hadoop_tools_spark.operators.dedup import hamming_band_pairs

    hashes = M.bmp_ahash(
        _bmp_payload_df(spark, sf_dir, base_mod=200), "payload", "doc_id"
    )
    return hamming_band_pairs(
        hashes.select("doc_id", "ahash"), "ahash", "doc_id",
        bits=36, max_hamming=4, bands=6,
    )


@query(
    "multimodal_bmp_dhash",
    oracle="""
    WITH dims AS (
      SELECT doc_id, (doc_id % 5 + 2) AS w, (doc_id % 3 + 2) AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id, w, h, unnest(generate_series(0, 35)) AS i
      FROM dims
    ),
    sampled AS (
      SELECT doc_id, i,
             ((i % 6) * w) // 7 AS sxl, (((i % 6) + 1) * w) // 7 AS sxr,
             ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    grays AS (
      SELECT doc_id, i,
             (doc_id + 3 * sxl + 7 * sy) % 256
               + (doc_id * 2 + 5 * sxl + 11 * sy) % 256
               + (doc_id * 3 + 13 * sxl + 17 * sy) % 256 AS gl,
             (doc_id + 3 * sxr + 7 * sy) % 256
               + (doc_id * 2 + 5 * sxr + 11 * sy) % 256
               + (doc_id * 3 + 13 * sxr + 17 * sy) % 256 AS gr
      FROM sampled
    )
    SELECT g.doc_id, any_value(d.w)::INT AS width,
           any_value(d.h)::INT AS height,
           sum(CASE WHEN g.gr > g.gl
                    THEN (1::BIGINT << g.i) ELSE 0 END)::BIGINT AS dhash
    FROM grays g JOIN dims d USING (doc_id)
    GROUP BY g.doc_id
    """,
)
def multimodal_bmp_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-hash perceptual fingerprint (L16b's gradient
    sibling) over the REAL BMP decode: bit = right-neighbor mosaic
    cell strictly brighter — edge structure instead of absolute
    brightness, so global exposure shifts don't flip the hash. All 36
    bits recomputed analytically by the oracle."""
    return M.bmp_dhash(_bmp_payload_df(spark, sf_dir), "payload", "doc_id")


# Id-prefix sample for the image-hash recall eval: its truth pass is
# quadratic by design and hamming_recall_eval refuses inputs past 250k
# rows, so the query evaluates a fixed doc_id prefix instead of the
# whole table (all docs at sf0.001-sf0.1, which have at most 5,000).
_BANDING_EVAL_DOCS = 200_000


@query(
    "multimodal_hash_recall",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, (doc_id % 5 + 2) AS w, (doc_id % 3 + 2) AS h
      FROM documents WHERE doc_id < {_BANDING_EVAL_DOCS}
    ),
    cells AS (
      SELECT doc_id, w, h, unnest(generate_series(0, 35)) AS i
      FROM dims
    ),
    asamp AS (
      SELECT doc_id, i,
             ((i % 6) * w) // 6 AS sx, ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    agray AS (
      SELECT doc_id, i,
             (doc_id + 3 * sx + 7 * sy) % 256
               + (doc_id * 2 + 5 * sx + 11 * sy) % 256
               + (doc_id * 3 + 13 * sx + 17 * sy) % 256 AS gv
      FROM asamp
    ),
    atot AS (SELECT doc_id, sum(gv) AS total FROM agray GROUP BY doc_id),
    ah AS (
      SELECT g.doc_id,
             sum(CASE WHEN 36 * g.gv > t.total
                      THEN (1::BIGINT << g.i) ELSE 0 END)::BIGINT AS ahash
      FROM agray g JOIN atot t USING (doc_id) GROUP BY g.doc_id
    ),
    dsamp AS (
      SELECT doc_id, i,
             ((i % 6) * w) // 7 AS sxl, (((i % 6) + 1) * w) // 7 AS sxr,
             ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    dgrays AS (
      SELECT doc_id, i,
             (doc_id + 3 * sxl + 7 * sy) % 256
               + (doc_id * 2 + 5 * sxl + 11 * sy) % 256
               + (doc_id * 3 + 13 * sxl + 17 * sy) % 256 AS gl,
             (doc_id + 3 * sxr + 7 * sy) % 256
               + (doc_id * 2 + 5 * sxr + 11 * sy) % 256
               + (doc_id * 3 + 13 * sxr + 17 * sy) % 256 AS gr
      FROM dsamp
    ),
    dh AS (
      SELECT doc_id,
             sum(CASE WHEN gr > gl
                      THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS dhash
      FROM dgrays GROUP BY doc_id
    ),
    hh AS (
      SELECT a.doc_id, a.ahash, d.dhash FROM ah a JOIN dh d USING (doc_id)
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM hh a JOIN hh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
    ),
    canda AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM hh a JOIN hh b ON a.doc_id < b.doc_id, range(0, 6) r(j)
      WHERE ((a.ahash >> (6 * r.j)::INT) & 63)
              = ((b.ahash >> (6 * r.j)::INT) & 63)
    ),
    candd AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM hh a JOIN hh b ON a.doc_id < b.doc_id, range(0, 6) r(j)
      WHERE ((a.dhash >> (6 * r.j)::INT) & 63)
              = ((b.dhash >> (6 * r.j)::INT) & 63)
    ),
    candu AS (SELECT * FROM canda UNION SELECT * FROM candd),
    hitf AS (SELECT t.* FROM truth t JOIN canda USING (id_a, id_b)),
    hitu AS (SELECT t.* FROM truth t JOIN candu USING (id_a, id_b))
    SELECT (SELECT count(*) FROM truth) AS n_true,
           (SELECT count(*) FROM candu) AS n_candidates,
           (SELECT count(*) FROM hitf) AS n_hit_first,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1.0
                ELSE round((SELECT count(*) FROM hitf)::DOUBLE
                             / (SELECT count(*) FROM truth), 6)
           END AS recall_first,
           (SELECT count(*) FROM hitu) AS n_hit_union,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1.0
                ELSE round((SELECT count(*) FROM hitu)::DOUBLE
                             / (SELECT count(*) FROM truth), 6)
           END AS recall_union
    """,
)
def multimodal_hash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-hash banding recall eval (the L16d acceptance gate): at
    hamming <= 8 over 36-bit hashes with 6 bands the pigeonhole
    guarantee is GONE (8 flips can dirty every band), so banding is a
    recall trade — this measures it, and measures what OR-ing aHash
    and dHash candidate sets buys back, brute-force truth vs banded
    candidates, everything integer-deterministic so the oracle
    reproduces the exact counts. ``recall_union >= recall_first`` by
    construction — the quantified basis for the "candidate on either
    hash" production stacking claim. Evaluated on the ``doc_id <
    _BANDING_EVAL_DOCS`` prefix, so it keeps running as the corpus
    grows."""
    from isilon_hadoop_tools_spark.operators.dedup import (
        hamming_recall_eval,
    )

    docs = _doc_ids(spark, sf_dir).filter(
        F.col("doc_id") < _BANDING_EVAL_DOCS
    )
    payloads = _bmp_payload_from(docs).localCheckpoint(eager=False)
    hashes = (
        M.bmp_ahash(payloads, "payload", "doc_id")
        .select("doc_id", "ahash")
        .join(
            M.bmp_dhash(payloads, "payload", "doc_id").select(
                "doc_id", "dhash"
            ),
            "doc_id",
        )
    )
    return hamming_recall_eval(
        hashes, "doc_id", ["ahash", "dhash"], bits=36, max_hamming=8, bands=6
    )


@query(
    "multimodal_png_near_dups",
    oracle="""
    WITH dims AS (
      SELECT doc_id, doc_id % 200 AS base,
             (doc_id % 200 % 6 + 2) AS w, (doc_id % 200 % 4 + 2) AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id, base, w, h, unnest(generate_series(0, 35)) AS i
      FROM dims
    ),
    sampled AS (
      SELECT doc_id, base, i,
             ((i % 6) * w) // 6 AS sx, ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    gray AS (
      SELECT doc_id, i,
             (base + 3 * sx + 7 * sy) % 256
               + (base * 2 + 5 * sx + 11 * sy) % 256
               + (base * 3 + 13 * sx + 17 * sy) % 256 AS gv
      FROM sampled
    ),
    tot AS (SELECT doc_id, sum(gv) AS total FROM gray GROUP BY doc_id),
    hashes AS (
      SELECT g.doc_id,
             sum(CASE WHEN 36 * g.gv > t.total
                      THEN (1::BIGINT << g.i) ELSE 0 END)::BIGINT AS ahash
      FROM gray g JOIN tot t USING (doc_id) GROUP BY g.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
    """,
)
def multimodal_png_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end COMPRESSED-image dedup — the full production path
    for a crawled image corpus: real PNG payloads with planted
    duplicates (doc_id % 200 base) → real decode (CRC + inflate +
    unfilter) → aHash → the shared pigeonhole band join (36 bits, 6
    bands, hamming <= 4 complete). The oracle brute-forces all
    qualifying pairs from the analytic pixel model, so a single
    decode defect or missed band candidate hash-fails. With
    ``png_ahash`` sharing ``bmp_ahash``'s mosaic contract, one band
    index serves a mixed BMP/PNG corpus."""
    from isilon_hadoop_tools_spark.operators.dedup import hamming_band_pairs

    hashes = M.png_ahash(
        _png_payload_df(spark, sf_dir, base_mod=200), "payload", "doc_id"
    )
    return hamming_band_pairs(
        hashes.select("doc_id", "ahash"), "ahash", "doc_id",
        bits=36, max_hamming=4, bands=6,
    )


@query("multimodal_unified_near_dups", oracle=_unified_near_dups_oracle())
def multimodal_unified_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SURVEY §7.8 claim — "one banded-hamming index design serves
    text, images, audio, and video" — made EXECUTABLE: SimHash text
    fingerprints, BMP aHash, WAV Goertzel, and Y4M temporal-mosaic
    hashes all land in ONE tagged ``(modality, id, fhash)`` table and
    ONE ``tagged_hamming_band_pairs`` call finds every qualifying
    same-modality pair — each modality keeping its own (bits,
    max_hamming, bands) parameters inside the single band-bucket
    shuffle (modality is part of the bucket key, so buckets never mix
    and per-modality completeness holds by the same pigeonhole
    argument). At 100 TB: one index table, one maintenance pipeline,
    four modalities. Oracle = the union of the four per-modality
    brute-force oracles, composed from their registered strings."""
    from concurrent.futures import ThreadPoolExecutor

    from isilon_hadoop_tools_spark.streaming.neardup import _job_steps

    docs = _t(spark, sf_dir, "documents")

    # Each modality's fingerprint pipeline is a large codec plan
    # (payload synthesis + decode expression trees); unioning the
    # four RAW plans made ONE mega-plan whose Catalyst analysis ran
    # ~2.2-2.6 s single-threaded on the driver before the first job
    # (profiled as the gap before job 1, r16 "not yet optimized" /
    # r16-VERDICT item 4). Building and EAGERLY checkpointing each
    # modality in its own driver thread (guide §2.6: overlap
    # independent jobs) analyzes and executes the four pipelines
    # CONCURRENTLY; the union the band join sees is then four RDD
    # scans with a trivial plan. Same rows, same band join, same
    # declared result (oracle-verified).
    def fp(which: str):
        with _job_steps(spark, "unified_near_dups") as step:
            step(f"{which} fingerprints")
            if which == "text":
                out = dedup.simhash(docs, "text", "doc_id", bits=32).select(
                    F.lit("text").alias("modality"),
                    "id",
                    F.col("simhash").alias("fhash"),
                )
            elif which == "image":
                out = M.bmp_ahash(
                    _bmp_payload_df(spark, sf_dir, base_mod=200),
                    "payload",
                    "doc_id",
                ).select(
                    F.lit("image").alias("modality"),
                    F.col("doc_id").alias("id"),
                    F.col("ahash").alias("fhash"),
                )
            elif which == "audio":
                out = M.wav_goertzel_hash(
                    _wav_payload_df(spark, sf_dir, base_mod=200, n_samples=144),
                    "payload",
                    "doc_id",
                ).select(
                    F.lit("audio").alias("modality"),
                    F.col("doc_id").alias("id"),
                    F.col("ahash").alias("fhash"),
                )
            else:
                out = M.y4m_video_hash(
                    _y4m_payload_df(spark, sf_dir, base_mod=200),
                    "payload",
                    "doc_id",
                ).select(
                    F.lit("video").alias("modality"),
                    F.col("doc_id").alias("id"),
                    F.col("vhash").alias("fhash"),
                )
            return out.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=4) as pool:
        text, image, audio, video = pool.map(
            fp, ["text", "image", "audio", "video"]
        )
    tagged = text.unionByName(image).unionByName(audio).unionByName(video)
    return dedup.tagged_hamming_band_pairs(
        tagged,
        {
            "text": (32, 3, 4),
            "image": (36, 4, 6),
            "audio": (32, 3, 4),
            "video": (32, 3, 4),
        },
    )


@query(
    "multimodal_unified_index_stream",
    oracle=_unified_near_dups_oracle(tags=("text", "image")),
)
def multimodal_unified_index_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of the UNIFIED multimodal index (L16u x
    §2.9, the continuous-crawl twin of `multimodal_unified_near_dups`):
    the documents table arrives as three micro-batches; each batch is
    fingerprinted for TWO modalities (SimHash text + real-BMP-decode
    aHash image) and folded into ONE tagged band index — one postings
    table, one members table, one maintenance discipline for the whole
    multimodal corpus. No checkpoint: the tagged members anti-join
    makes replays no-ops (pinned by the isolation/replay test in
    tests/test_streaming_neardup.py; the bench drains once); the
    final pair state must
    equal the union of the two batch per-modality answers — composed
    from their registered oracle strings."""
    from isilon_hadoop_tools_spark.streaming.events import drain
    from isilon_hadoop_tools_spark.streaming.neardup import (
        tagged_index_apply_batch,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _sliced_stream(spark, docs, "unified_index_stream", sf_dir)

    def fingerprint(batch: DataFrame) -> DataFrame:
        text = dedup.simhash(batch, "text", "doc_id", bits=32).select(
            F.lit("text").alias("modality"),
            "id",
            F.col("simhash").alias("fhash"),
        )
        image = M.bmp_ahash(
            _bmp_payload_from(batch.select("doc_id"), base_mod=200),
            "payload",
            "doc_id",
        ).select(
            F.lit("image").alias("modality"),
            F.col("doc_id").alias("id"),
            F.col("ahash").alias("fhash"),
        )
        return text.unionByName(image)

    params = {"text": (32, 3, 4), "image": (36, 4, 6)}
    state = _fresh_state(spark, "multimodal_unified_index_stream")
    drain(
        stream,
        lambda batch, _id: tagged_index_apply_batch(
            fingerprint(batch), state, params
        ),
        None,
    )
    return state.read(
        "tnear_pairs",
        "modality STRING, id_a LONG, id_b LONG, hamming INT",
    )


@query(
    "multimodal_jpeg_features",
    oracle="""
    WITH dims AS (
      SELECT doc_id, doc_id AS base,
             (doc_id % 3 + 1) AS wb, (doc_id % 2 + 1) AS hb
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, base, wb, hb, bx, by
      FROM dims,
           unnest(generate_series(0, wb - 1)) AS u(bx),
           unnest(generate_series(0, hb - 1)) AS vv(by)
    ),
    vals AS (
      SELECT doc_id, wb, hb, bx, by,
             (base + 37 * bx + 73 * by) % 256 AS v
      FROM blocks
    )
    SELECT doc_id, (wb * 8)::INT AS width, (hb * 8)::INT AS height,
           (wb * 8 * hb * 8)::BIGINT AS n_pixels,
           sum(v * 64)::BIGINT AS sum_r,
           sum(v * 64)::BIGINT AS sum_g,
           sum(v * 64)::BIGINT AS sum_b,
           (max(CASE WHEN bx = 0 AND by = 0 THEN v END)
            * 65793)::BIGINT AS top_left
    FROM vals GROUP BY doc_id, wb, hb
    """,
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEVENTH real codec (L16g) — baseline JPEG, the format that was
    the last stub-backed image claim: real JFIF payloads (markers,
    canonical DHT, DCT, Huffman entropy stream) decoded by
    `jpeg_decode_rgb` into the shared exact-integer feature contract.
    The fixtures are block-constant gray, the regime where the lossy
    format is EXACT (all energy in the losslessly-quantized DC;
    chroma pinned at 128), so the oracle checks every decoded byte
    analytically — one wrong Huffman code, dezigzag slot, or IDCT
    scale factor hash-fails."""
    return M.decode_jpeg_features(
        _jpeg_payload_df(spark, sf_dir), "payload", "doc_id"
    )


@query(
    "multimodal_jpeg_near_dups",
    oracle="""
    WITH dims AS (
      SELECT doc_id, doc_id % 200 AS base,
             ((doc_id % 200) % 3 + 1) * 8 AS w,
             ((doc_id % 200) % 2 + 1) * 8 AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id, base, w, h, unnest(generate_series(0, 35)) AS i
      FROM dims
    ),
    sampled AS (
      SELECT doc_id, base, i,
             ((i % 6) * w) // 6 AS sx, ((i // 6) * h) // 6 AS sy
      FROM cells
    ),
    gray AS (
      SELECT doc_id, i,
             3 * ((base + 37 * (sx // 8) + 73 * (sy // 8)) % 256) AS gv
      FROM sampled
    ),
    tot AS (SELECT doc_id, sum(gv) AS total FROM gray GROUP BY doc_id),
    hashes AS (
      SELECT g.doc_id,
             sum(CASE WHEN 36 * g.gv > t.total
                      THEN (1::BIGINT << g.i) ELSE 0 END)::BIGINT AS ahash
      FROM gray g JOIN tot t USING (doc_id) GROUP BY g.doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
    """,
)
def multimodal_jpeg_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DCT-compressed image dedup (L16g x L7): real JPEG
    payloads with planted duplicates (doc_id % 200 base) → real
    decode (Huffman + dequant + IDCT + color convert) → the SAME
    mosaic aHash contract as BMP/PNG/GIF → the shared pigeonhole band
    join (36 bits, 6 bands, hamming <= 4 complete). The oracle
    brute-forces all qualifying pairs from the analytic block model.
    With `jpeg_ahash` sharing the mosaic contract, one band index now
    serves a mixed BMP/PNG/GIF/JPEG corpus."""
    from isilon_hadoop_tools_spark.operators.dedup import hamming_band_pairs

    hashes = M.jpeg_ahash(
        _jpeg_payload_df(spark, sf_dir, base_mod=200), "payload", "doc_id"
    )
    return hamming_band_pairs(
        hashes.select("doc_id", "ahash"), "ahash", "doc_id",
        bits=36, max_hamming=4, bands=6,
    )


@query(
    "multimodal_jpeg_png_near_dups",
    oracle=REGISTRY["multimodal_jpeg_near_dups"].oracle,
)
def multimodal_jpeg_png_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mixed LOSSY/LOSSLESS container dedup (L16g x L16f): the same
    block-constant pixel model stored as real JPEG (even doc_ids —
    DCT + Huffman) vs real PNG (odd — zlib + filters), each decoded
    by its own codec, hashed by the shared mosaic contract, and fed
    into ONE band join — duplicate pairs cross the container boundary
    because the block-constant regime makes the lossy decode
    pixel-exact. The oracle is container-agnostic (literally
    `multimodal_jpeg_near_dups`'s registered string: the pixel model
    is identical), so any cross-codec divergence hash-fails."""
    from isilon_hadoop_tools_spark.operators.dedup import hamming_band_pairs

    payloads = _jpeg_png_twin_payload_df(spark, sf_dir, base_mod=200)
    even = F.pmod(F.col("doc_id"), F.lit(2)) == 0
    jpg = M.jpeg_ahash(payloads.filter(even), "payload", "doc_id")
    png = M.png_ahash(payloads.filter(~even), "payload", "doc_id")
    hashes = jpg.select("doc_id", "ahash").unionByName(
        png.select("doc_id", "ahash")
    )
    return hamming_band_pairs(
        hashes, "ahash", "doc_id", bits=36, max_hamming=4, bands=6
    )


@query(
    "multimodal_pair_alignment",
    oracle="""
    WITH base AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS t FROM embeddings
    ),
    pairs AS (
      SELECT id, t,
        CASE WHEN id % 3 = 0
          THEN list_transform(range(1, length(t) + 1),
                 i -> CASE WHEN i % 2 = 1 THEN -t[i] ELSE t[i] END)
          ELSE list_transform(range(1, length(t) + 1),
                 i -> CASE WHEN i = 1 THEN t[i] + 0.25 ELSE t[i] END)
        END AS img
      FROM base
    ),
    scored AS (
      SELECT id, img,
             round(list_dot_product(img, t)
                   / (sqrt(list_dot_product(img, img))
                      * sqrt(list_dot_product(t, t))), 6) AS align_score
      FROM pairs
    ),
    negs AS (SELECT t AS neg FROM base WHERE id % 97 = 0),
    harder AS (
      SELECT s.id,
             sum(CASE WHEN round(list_dot_product(s.img, n.neg)
                        / (sqrt(list_dot_product(s.img, s.img))
                           * sqrt(list_dot_product(n.neg, n.neg))), 6)
                      > s.align_score THEN 1 ELSE 0 END)::BIGINT AS n_harder
      FROM scored s CROSS JOIN negs n GROUP BY s.id
    )
    SELECT s.id, s.align_score, s.align_score >= 0.28 AS keep,
           coalesce(h.n_harder, 0) AS n_harder,
           coalesce(h.n_harder, 0) = 0 AS top1
    FROM scored s LEFT JOIN harder h USING (id)
    """,
)
def multimodal_pair_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score image-text alignment filter (L66 — r12 VERDICT #5,
    the LAION curation stage after per-modality dedup): a
    deterministic (image_emb, text_emb) pair fixture — two thirds
    aligned (caption embedding with one nudged component -> high
    cosine), one third mismatched (alternate components sign-flipped
    -> decorrelated) — scored per pair with the 6-dp cosine, kept at
    the LAION 0.28 threshold, plus the in-batch contrastive readout
    (n_harder / top1) against a bounded ~1% sampled negative-caption
    set. One scan + a broadcast K-negative sweep; no corpus
    self-join anywhere (`operators/similarity.py pair_alignment`)."""
    emb = _t(spark, sf_dir, "embeddings")
    txt = F.col("embedding").cast("array<double>")
    aligned = F.transform(
        txt, lambda x, i: F.when(i == 0, x + F.lit(0.25)).otherwise(x)
    )
    mis = F.transform(
        txt, lambda x, i: F.when(i % 2 == 0, -x).otherwise(x)
    )
    pairs = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 3 == 0, mis).otherwise(aligned).alias(
            "img_emb"
        ),
        txt.alias("txt_emb"),
    )
    negatives = emb.filter(F.col("vec_id") % 97 == 0)
    return similarity.pair_alignment(
        pairs,
        "img_emb",
        "txt_emb",
        "vec_id",
        threshold=0.28,
        negatives=negatives,
        neg_vec_col="embedding",
    )
