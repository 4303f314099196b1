"""Multimodal columns: opaque binary payloads with typed metadata.

The engine treats image/audio/video content as ``BinaryType`` columns
plus a typed metadata struct — the scale-safe shape for a 100 TB
training-data pipeline (payload bytes stay columnar in parquet; all
filtering/dedup runs on cheap metadata, and decode only touches rows
that survive).

Decode / feature-extraction run as Arrow-batched ``mapInPandas``
stages, all through one runner, :func:`_per_payload`: each stage is a
per-payload function (payload bytes -> output rows) and the schema it
emits. Seven codecs are REAL, pure numpy/stdlib with no stub in the
path: P6 PPM (:func:`decode_resize_ppm`), RIFF/WAVE PCM16
(:func:`_wav_pcm16`), BMP (:func:`bmp_decode_rgb`), PNG
(:func:`png_decode_rgb`), GIF (:func:`gif_decode_rgb`), YUV4MPEG2
(:func:`y4m_decode`) and baseline JPEG (:func:`jpeg_decode_rgb`). The
four RGB image decoders return one (h, w, 3) top-down array, so one
feature row (:func:`_rgb_features`) and one luminance mosaic
(:func:`_ahash`, :func:`_dhash`) serve every container. The remaining
stages (``*_stub``) are deterministic fakes (the engine depends on no
PIL/librosa/pyav): each marks the single line where
``PIL.Image.open`` / ``librosa.load`` would plug in, and everything
around it — schema contract, Arrow batch shape, partitioning — is
real and tested.

Cross-engine note: payload hashing/sniffing goes through ``hex()``
(identical in Spark and DuckDB) because the oracle's md5 only accepts
strings; a Spark-only deployment would hash the binary directly.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (hex prefix of the file's magic bytes, mime) — checked in order.
# RIFF is sniffed by prefix only (a full WAV check also reads bytes
# 9-12 == "WAVE"); fine for metadata routing.
MAGIC_PREFIXES: tuple[tuple[str, str], ...] = (
    ("89504E470D0A1A0A", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("52494646", "audio/wav"),
    ("494433", "audio/mpeg"),
    ("4F676753", "audio/ogg"),
)
DEFAULT_MIME = "application/octet-stream"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def detect_mime(bin_col: Column | str) -> Column:
    """Magic-byte MIME sniffing as one CASE chain over the hex prefix
    — pure JVM expressions, no UDF."""
    h = F.hex(_c(bin_col))
    expr = F.lit(DEFAULT_MIME)
    for prefix, mime in reversed(MAGIC_PREFIXES):
        expr = F.when(
            F.substring(h, 1, len(prefix)) == prefix, F.lit(mime)
        ).otherwise(expr)
    return expr


def content_hash(bin_col: Column | str) -> Column:
    """md5 over the hex encoding (see module note on oracle parity)."""
    return F.md5(F.hex(_c(bin_col)))


def attach_metadata(df: DataFrame, bin_col: str, out: str = "meta") -> DataFrame:
    """Add the typed metadata struct: size_bytes, content_hash, mime."""
    return df.withColumn(
        out,
        F.struct(
            F.length(_c(bin_col)).alias("size_bytes"),
            content_hash(bin_col).alias("content_hash"),
            detect_mime(bin_col).alias("mime"),
        ),
    )


def binary_dedup(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Exact binary dedup by content hash — one shuffle, map-side
    partial agg, payload bytes never leave the scan."""
    return (
        df.select(content_hash(bin_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _per_payload(
    df: DataFrame,
    bin_col: str,
    id_col: str,
    schema: str,
    one: Callable[[bytes], list[tuple]],
) -> DataFrame:
    """The one Arrow codec stage: every decoder, hash and stub below
    runs through this ``mapInPandas``.

    ``one(raw)`` maps one payload to its output rows, each a tuple of
    the ``schema`` columns (``"name TYPE, ..."``, the id excluded);
    the stage prepends the id, takes the pandas column names from the
    schema, and keeps payload bytes in the scan partition: one-to-many
    fan-out happens inside the kernel and nothing shuffles. A
    malformed payload raises the decoder's ``ValueError`` on the
    worker.
    """
    columns = [id_col] + [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = [
                (doc_id, *row)
                for doc_id, raw in zip(batch[id_col], batch[bin_col])
                for row in one(raw)
            ]
            yield pd.DataFrame(rows, columns=columns)

    return df.select(id_col, bin_col).mapInPandas(run, f"{id_col} LONG, {schema}")


_RGB_FEATURES = (
    "width INT, height INT, n_pixels LONG, "
    "sum_r LONG, sum_g LONG, sum_b LONG, top_left LONG"
)


def _rgb_features(pix) -> list[tuple]:
    """The exact-integer feature row of every RGB image codec, from an
    (h, w, 3) top-down array: width, height, n_pixels, the channel
    sums, and ``top_left`` = r·65536 + g·256 + b of pixel (0, 0) — a
    wrong row flip, channel order or filter prediction flips it."""
    h, w, _ = pix.shape
    r, g, b = (pix[..., c].astype(np.int64) for c in range(3))
    top_left = int(r[0, 0]) * 65536 + int(g[0, 0]) * 256 + int(b[0, 0])
    return [(w, h, w * h, int(r.sum()), int(g.sum()), int(b.sum()), top_left)]


def _mosaic(gray, rows: int, cols: int):
    """Nearest-neighbor ``rows``×``cols`` sample of the last two axes
    of ``gray``: cell (gy, gx) is pixel (gy·h // rows, gx·w // cols)
    — integer arithmetic, so any engine reproduces it."""
    h, w = gray.shape[-2:]
    gy = np.arange(rows) * h // rows
    gx = np.arange(cols) * w // cols
    return gray[..., gy[:, None], gx]


def _pack_bits(bits) -> int:
    """Bits in row-major order, bit i worth 2^i, as one integer."""
    bits = np.asarray(bits, dtype=np.int64)
    return int((bits << np.arange(bits.size, dtype=np.int64).reshape(bits.shape)).sum())


def _ahash(gray, grid: int) -> int:
    """The aHash mosaic contract: bit = "cell brighter than its
    mosaic's mean" as the division-free ``grid²·cell > Σcells``, per
    trailing (h, w) plane, planes concatenated in order."""
    cells = _mosaic(gray, grid, grid)
    return _pack_bits(grid * grid * cells > cells.sum(axis=(-2, -1), keepdims=True))


def _dhash(gray, grid: int) -> int:
    """The dHash contract: a grid×(grid+1) mosaic, bit (gy, gx) =
    ``cell[gy, gx+1] > cell[gy, gx]``."""
    cells = _mosaic(gray, grid, grid + 1)
    return _pack_bits(cells[..., 1:] > cells[..., :-1])


def _image_hash_stage(
    df: DataFrame, bin_col: str, id_col: str, decode, grid: int, kind: str
) -> DataFrame:
    """``decode`` each payload to RGB, hash its luminance (the channel
    sum r+g+b, no division) with the ``kind`` (``ahash``/``dhash``)
    mosaic. Output: ``id``, ``width``, ``height``, ``<kind>``."""
    if grid * grid >= 63:
        raise ValueError(f"grid {grid} overflows a signed-64 hash")
    hash_of = _ahash if kind == "ahash" else _dhash

    def one(raw: bytes) -> list[tuple]:
        pix = decode(raw)
        h, w, _ = pix.shape
        return [(w, h, hash_of(pix.astype(np.int64).sum(axis=2), grid))]

    return _per_payload(
        df, bin_col, id_col, f"width INT, height INT, {kind} LONG", one
    )


def _fake_dims(size: int) -> tuple[int, int, int]:
    """Deterministic stand-in for decoded image dimensions."""
    return (size % 640 + 1, (size * 7) % 480 + 1, 3)


def decode_image_stub(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Arrow-batched decode stage (``mapInPandas``).

    STUB: dimensions are a deterministic function of payload size so
    the stage is oracle-checkable. A real deployment replaces the
    body of ``decode_one`` with ``PIL.Image.open(io.BytesIO(raw))``
    and returns genuine (width, height, channels).
    """
    def decode_one(raw: bytes) -> list[tuple]:
        # >>> real decoder plugs in here (PIL/libvips) <<<
        return [_fake_dims(len(raw))]

    return _per_payload(
        df, bin_col, id_col, "width INT, height INT, channels INT", decode_one
    )


def sample_frames_stub(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Arrow-batched frame-sampling stage for video-like payloads.

    STUB: emits ``size %% 5 + 1`` frames per payload, each tagged with
    an md5 over (hex payload, frame index) — the real implementation
    replaces ``frames_of`` with a decoder loop (pyav/ffmpeg) yielding
    actual frame tensors/bytes.
    """
    def frames_of(raw: bytes) -> list[tuple]:
        # >>> real frame decoder plugs in here <<<
        hexstr = raw.hex().upper()
        return [
            (i, hashlib.md5(f"{hexstr}:{i}".encode()).hexdigest())
            for i in range(1, len(raw) % 5 + 2)
        ]

    return _per_payload(
        df, bin_col, id_col, "frame_idx INT, frame_hash STRING", frames_of
    )


def resize_image_stub(
    df: DataFrame, bin_col: str, id_col: str, target: int = 64
) -> DataFrame:
    """Arrow-batched resize stage (``mapInPandas``): aspect-preserving
    downscale to fit a ``target`` x ``target`` box, never upscaling.

    STUB: source dimensions come from :func:`_fake_dims` and the
    "resized payload" is an md5 tag over (hex payload, out dims); a
    real deployment replaces ``resize_one`` with
    ``PIL.Image.open(...).thumbnail((target, target))`` and returns
    real bytes. Output: id, ``src_w``, ``src_h``, ``out_w``,
    ``out_h``, ``resized_hash``.
    """
    def resize_one(raw: bytes) -> list[tuple]:
        # >>> real decoder+resampler plugs in here (PIL/libvips) <<<
        w, h, _ = _fake_dims(len(raw))
        scale = min(1.0, target / max(w, h))
        # floor(x + 0.5), not round(): Python rounds half-to-even,
        # SQL half-away — they disagree on exact .5 products
        ow = max(1, int(w * scale + 0.5))
        oh = max(1, int(h * scale + 0.5))
        tag = hashlib.md5(f"{raw.hex().upper()}:{ow}x{oh}".encode()).hexdigest()
        return [(w, h, ow, oh, tag)]

    return _per_payload(
        df,
        bin_col,
        id_col,
        "src_w INT, src_h INT, out_w INT, out_h INT, resized_hash STRING",
        resize_one,
    )


def decode_resize_ppm(
    df: DataFrame, bin_col: str, id_col: str, target: int = 4
) -> DataFrame:
    """REAL decoder (no stub): parse binary P6 PPM payloads with pure
    numpy and nearest-neighbor resize to fit a ``target`` x ``target``
    box (never upscaling).

    The header (``P6\\n<w> <h>\\n<maxval>\\n``) is parsed from the
    payload bytes, the pixel buffer is ``np.frombuffer``-ed and
    reshaped, and the resample picks source pixel ``(y*h//oh,
    x*w//ow)`` — integer arithmetic, so any engine reproduces it
    exactly. Output is the gate-comparable exploded pixel form
    ``(id, y, x, r, g, b)``, fanned out inside :func:`_per_payload`.
    """
    def one(raw: bytes) -> list[tuple]:
        if raw[:2] != b"P6":
            raise ValueError("not a P6 PPM payload")
        idx, tokens = 2, []
        while len(tokens) < 3:
            while raw[idx : idx + 1].isspace():
                idx += 1
            start = idx
            while not raw[idx : idx + 1].isspace():
                idx += 1
            tokens.append(int(raw[start:idx]))
        idx += 1  # the single whitespace byte after maxval
        w, h, _maxval = tokens
        arr = np.frombuffer(
            raw, dtype=np.uint8, count=w * h * 3, offset=idx
        ).reshape(h, w, 3)
        scale = min(1.0, target / max(w, h))
        # floor(x + 0.5): SQL-compatible half-away rounding
        ow = max(1, int(w * scale + 0.5))
        oh = max(1, int(h * scale + 0.5))
        out = arr[np.ix_((np.arange(oh) * h) // oh, (np.arange(ow) * w) // ow)]
        return [
            (y, x, *(int(v) for v in out[y, x]))
            for y in range(oh)
            for x in range(ow)
        ]

    return _per_payload(
        df, bin_col, id_col, "y INT, x INT, r INT, g INT, b INT", one
    )


def decode_wav_features(
    df: DataFrame, bin_col: str, id_col: str
) -> DataFrame:
    """REAL audio decoder (no stub): parse binary RIFF/WAVE PCM16
    payloads (:func:`_wav_pcm16`) and extract per-clip signal
    features: sample count, peak amplitude, strict zero crossings
    (``s[i]*s[i+1] < 0``), and RMS with SQL-compatible half-away
    rounding (``floor(x*1e4 + 0.5)``, never Python's half-even
    ``round``). One output row per clip.
    """
    def one(raw: bytes) -> list[tuple]:
        rate, s = _wav_pcm16(raw)
        rms = math.sqrt(float(np.mean(s * s)))
        return [(
            int(rate),
            len(s),
            int(np.max(np.abs(s))),
            int(np.sum(s[:-1] * s[1:] < 0)),
            math.floor(rms * 10000 + 0.5) / 10000,
        )]

    return _per_payload(
        df,
        bin_col,
        id_col,
        "sample_rate INT, n_samples LONG, peak LONG, n_cross LONG, rms DOUBLE",
        one,
    )


def extract_features_stub(
    df: DataFrame, bin_col: str, id_col: str, dim: int = 8
) -> DataFrame:
    """Arrow-batched feature-extraction stage: payload -> fixed-dim
    float feature vector, emitted in the exploded gate-comparable form
    ``(id, pos, fval)``.

    STUB: component ``pos`` is the md5-derived 32-bit hash of
    (hex payload, pos) scaled into [0, 1) and rounded — deterministic
    and SQL-recomputable. A real deployment replaces ``features_of``
    with an image/audio embedding model over the decoded tensor; the
    Spark-side contract (one vector row fan-out per payload, Arrow
    batches, downstream ANN-ready) is unchanged.
    """
    def features_of(raw: bytes) -> list[tuple]:
        # >>> real embedding model plugs in here <<<
        hexstr = raw.hex().upper()
        tags = [hashlib.md5(f"{hexstr}:{p}".encode()).hexdigest() for p in range(dim)]
        return [(p, round(int(t[:8], 16) / 4294967296.0, 6)) for p, t in enumerate(tags)]

    return _per_payload(df, bin_col, id_col, "pos INT, fval DOUBLE", features_of)


def bmp_decode_rgb(raw: bytes):
    """REAL BMP decoder (the container-format image flavor):
    BITMAPFILEHEADER magic + data offset, BITMAPINFOHEADER geometry
    (24-bit BI_RGB only), then the pixel array honoring the two
    details every naive reader gets wrong: rows are stored BOTTOM-UP
    and padded to 4-byte boundaries, pixels are BGR. Returns an
    (h, w, 3) uint8 RGB array, top-down, the shape
    ``png_``/``gif_``/``jpeg_decode_rgb`` return. Malformed payloads
    (bad magic, short header, non-24-bit, compressed, top-down or
    degenerate, truncated pixel array) raise ``ValueError`` instead of
    yielding silent garbage."""
    if raw[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(raw) < 54:
        raise ValueError("truncated BMP header")
    (data_off,) = struct.unpack("<I", raw[10:14])
    width, height = struct.unpack("<ii", raw[18:26])
    (bpp,) = struct.unpack("<H", raw[28:30])
    (comp,) = struct.unpack("<I", raw[30:34])
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit BI_RGB supported")
    if width <= 0 or height <= 0:
        raise ValueError("top-down/degenerate BMP not supported")
    stride = (width * 3 + 3) // 4 * 4
    end = data_off + stride * height
    if end > len(raw):
        raise ValueError("pixel array exceeds payload")
    arr = np.frombuffer(raw[data_off:end], dtype=np.uint8).reshape(height, stride)
    # strip row padding, flip bottom-up -> top-down, BGR -> RGB
    return arr[:, : width * 3].reshape(height, width, 3)[::-1, :, ::-1]


def decode_bmp_features(
    df: DataFrame, bin_col: str, id_col: str
) -> DataFrame:
    """Third REAL codec (image, container-format flavor):
    :func:`bmp_decode_rgb` per payload, then the exact-integer image
    feature row (all ints, oracle-checkable):
    ``id, width, height, n_pixels, sum_r, sum_g, sum_b, top_left``
    where ``top_left`` encodes the top-left pixel as r·65536 + g·256
    + b — a wrong row flip or channel order flips it immediately.
    Malformed payloads raise instead of yielding silent garbage.
    """
    return _per_payload(
        df, bin_col, id_col, _RGB_FEATURES,
        lambda raw: _rgb_features(bmp_decode_rgb(raw)),
    )


def bmp_ahash(
    df: DataFrame, bin_col: str, id_col: str, grid: int = 6
) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over REAL decoded
    BMP pixels — the image near-dup primitive: nearest-neighbor
    downsample to a ``grid``×``grid`` luminance mosaic, one bit per
    cell = "brighter than the image mean", giving a ``grid²``-bit
    fingerprint whose hamming distance survives resizing and small
    edits. Feed the output to the same banded hamming-pair join the
    SimHash path uses (`operators/dedup.py` `simhash_near_pairs`
    shape) for image dedup at corpus scale.

    Integer-exact cross-engine contract (:func:`_ahash`): cell
    luminance is the raw channel sum r+g+b (no /3) at the sampled
    pixel (gx·w // grid, gy·h // grid), and the mean threshold is the
    division-free comparison ``grid²·gray > Σgray`` — no floats
    anywhere, so the oracle reproduces every bit. Default grid=6
    (36 bits) keeps the hash far from BIGINT's sign bit.

    Output: ``id``, ``width``, ``height``, ``ahash``.
    """
    return _image_hash_stage(df, bin_col, id_col, bmp_decode_rgb, grid, "ahash")


def bmp_dhash(
    df: DataFrame, bin_col: str, id_col: str, grid: int = 6
) -> DataFrame:
    """Difference-hash (dHash) perceptual fingerprint — aHash's
    gradient-based sibling (each bit compares a mosaic cell to its
    right neighbor, so the hash tracks edge structure instead of
    absolute brightness and survives global exposure shifts that flip
    aHash bits wholesale). Production image-dedup stacks use both:
    candidates from either hash, verify on the pair.

    Same REAL BMP decode and the same integer-exact contract
    (:func:`_dhash`): the mosaic is a nearest-neighbor (grid+1)×grid
    luminance sample (channel sums, no division) and bit (gy, gx) is
    the strict comparison gray[gy, gx+1] > gray[gy, gx]. Output:
    ``id``, ``width``, ``height``, ``dhash`` (grid² bits).
    """
    return _image_hash_stage(df, bin_col, id_col, bmp_decode_rgb, grid, "dhash")


def _paeth(left: int, up: int, ul: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): the neighbor closest to
    left + up - ul, ties broken left, up, upper-left."""
    p = left + up - ul
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
    if pa <= pb and pa <= pc:
        return left
    if pb <= pc:
        return up
    return ul


def png_encode_rgb(pix, row_filters=None) -> bytes:
    """REAL PNG writer for an 8-bit RGB array (h, w, 3): signature,
    CRC-correct IHDR/IDAT/IEND chunks, zlib-compressed scanlines with
    a caller-chosen filter type per row (default 0/None). The filter
    bytes are computed from the recon bytes exactly per spec, so any
    of the five filter types round-trips through the decoder.

    Fixture/generator AND a legitimate sink primitive (raw tensor →
    compressed image payload). Pure stdlib ``zlib`` + ``struct``."""
    pix = np.asarray(pix, dtype=np.int64)
    h, w, ch = pix.shape
    if ch != 3:
        raise ValueError("png_encode_rgb expects (h, w, 3)")
    stride = w * 3
    flat = pix.reshape(h, stride)
    if row_filters is None:
        row_filters = [0] * h
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        recon = flat[y] % 256
        f = int(row_filters[y % len(row_filters)])
        if f == 0:
            raw = recon
        elif f == 2:
            raw = (recon - prev) % 256
        elif f in (1, 3, 4):
            raw = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                left = int(recon[i - 3]) if i >= 3 else 0
                up = int(prev[i])
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) // 2
                else:
                    ul = int(prev[i - 3]) if i >= 3 else 0
                    pred = _paeth(left, up, ul)
                raw[i] = (int(recon[i]) - pred) % 256
        else:
            raise ValueError(f"unknown filter type {f}")
        lines.append(f)
        lines.extend(int(v) for v in raw)
        prev = recon

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines)))
        + chunk(b"IEND", b"")
    )


def png_decode_rgb(raw: bytes):
    """REAL PNG decoder (8-bit truecolor RGB and 8-bit grayscale,
    non-interlaced): PNG signature, critical-chunk walk with
    per-chunk CRC32 verification, multi-IDAT concatenation, stdlib
    ``zlib`` inflate (adler32 checked by zlib itself), then
    per-scanline unfiltering of all five filter types
    (None/Sub/Up/Average/Paeth) with the color type's bpp (3 or 1 —
    the Sub/Paeth "left" neighbor is one PIXEL back, not one byte).
    Returns an (h, w, 3) uint8 numpy array in row-major top-down
    order; grayscale replicates into the three channels so every
    downstream feature/hash stage sees one shape. Malformed payloads
    — bad signature, truncated or CRC-corrupt chunks, IDAT before
    IHDR, missing IEND, unsupported depth/color/interlace, short or
    oversized pixel stream, unknown filter type — raise
    ``ValueError`` instead of yielding garbage, the same typed-reject
    contract as the WAV/BMP codecs."""
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    idat = bytearray()
    saw_iend = False
    while pos + 12 <= len(raw):
        (length,) = struct.unpack(">I", raw[pos : pos + 4])
        if pos + 12 + length > len(raw):
            raise ValueError("truncated PNG chunk")
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", raw[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            if width is not None:
                raise ValueError("duplicate IHDR")
            if length != 13:
                raise ValueError("bad IHDR length")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if width <= 0 or height <= 0:
                raise ValueError("degenerate PNG dimensions")
            if depth != 8 or color not in (0, 2):
                raise ValueError(
                    "only 8-bit truecolor RGB or grayscale supported"
                )
            if comp != 0 or filt != 0:
                raise ValueError("unknown compression/filter method")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            if width is None:
                raise ValueError("IDAT before IHDR")
            idat.extend(data)
        elif ctype == b"IEND":
            saw_iend = True
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped
        pos += 12 + length
    if width is None or not saw_iend:
        raise ValueError("missing IHDR or IEND")
    decomp = zlib.decompress(bytes(idat))
    bpp = 3 if color == 2 else 1  # filter "left" distance: one pixel
    stride = width * bpp
    if len(decomp) != (stride + 1) * height:
        raise ValueError("decompressed pixel stream size mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        line = decomp[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype = line[0]
        raw_row = np.frombuffer(line, dtype=np.uint8)[1:].astype(np.int64)
        if ftype == 0:
            recon = raw_row
        elif ftype == 2:
            recon = (raw_row + prev) % 256
        elif ftype in (1, 3, 4):
            recon = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                left = int(recon[i - bpp]) if i >= bpp else 0
                up = int(prev[i])
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    ul = int(prev[i - bpp]) if i >= bpp else 0
                    pred = _paeth(left, up, ul)
                recon[i] = (raw_row[i] + pred) % 256
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = recon
        prev = recon
    pix = out.reshape(height, width, bpp)
    if bpp == 1:
        pix = np.repeat(pix, 3, axis=2)
    return pix


def decode_png_features(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Fourth REAL codec — the compressed-image path that was the last
    stub-backed claim: :func:`png_decode_rgb` per payload (chunk walk
    + CRC + zlib inflate + all five scanline unfilters), emitting the
    same exact-integer feature contract as the BMP codec so the
    oracle checks every decoded byte analytically:
    ``id, width, height, n_pixels, sum_r, sum_g, sum_b, top_left``
    (``top_left`` = r·65536 + g·256 + b of pixel (0, 0) — one wrong
    filter prediction or channel order flips it).

    Same Arrow ``mapInPandas`` shape as every codec stage: payload
    bytes stay in the scan partition, one output row per image,
    nothing shuffles."""
    return _per_payload(
        df, bin_col, id_col, _RGB_FEATURES,
        lambda raw: _rgb_features(png_decode_rgb(raw)),
    )


def png_ahash(df: DataFrame, bin_col: str, id_col: str, grid: int = 6) -> DataFrame:
    """aHash over the REAL PNG decode path — the compressed-image
    near-dup primitive: :func:`png_decode_rgb` (chunk walk + CRC +
    inflate + unfilter), then the SAME integer-exact mosaic contract
    as :func:`bmp_ahash` (cell luminance = r+g+b at
    (gx·w // grid, gy·h // grid); bit = ``grid²·gray > Σgray``), so
    BMP- and PNG-sourced fingerprints of identical pixels are
    IDENTICAL and feed one shared banded hamming join regardless of
    container format. Output: ``id``, ``width``, ``height``,
    ``ahash``."""
    return _image_hash_stage(df, bin_col, id_col, png_decode_rgb, grid, "ahash")


def _lzw_compress(indices, min_code_size: int) -> bytes:
    """GIF-variant LZW compressor (LSB-first variable-width codes,
    clear/end codes, width growth to 12 bits, dictionary reset at
    4096) — the encoder half of the fifth real codec. Pure stdlib;
    emitted streams round-trip exactly through
    :func:`_lzw_decompress` and decode in external readers (the
    non-early-change width rule: grow when ``next_code`` passes
    ``2^width``)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    buf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    # Code WIDTH is driven by a counter of emitted DATA codes, not by
    # the encoder's table adds: the decoder's (lagged) table add while
    # processing the final flush code has no encoder-side add, so an
    # add-driven width under-grows at exactly that tail and the end
    # code is written narrower than it is read. The per-emission
    # counter (giflib's RunningCode rule) is provably equal to the
    # table-add rule everywhere a table add exists, covers the tail,
    # and also fixes the first-code KwKwK edge at min_code_size 1
    # where code end+2 must be emittable one step early. The decoder
    # below advances the identical counter per data code read, so the
    # two can never disagree on a boundary.
    wc = end + 1
    width = min_code_size + 1

    def after_data_emit() -> None:
        nonlocal wc, width
        if wc < 4096:
            wc += 1
            if wc > (1 << width) and width < 12:
                width += 1

    emit(clear, width)
    w: tuple = ()
    for k in indices:
        k = int(k)
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        after_data_emit()
        table[wk] = next_code
        next_code += 1
        if next_code == 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            wc = end + 1
            width = min_code_size + 1
        w = (k,)
    if w:
        emit(table[w], width)
        after_data_emit()
    emit(end, width)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _lzw_decompress(
    data: bytes, min_code_size: int, expected: int | None = None
) -> list:
    """GIF-variant LZW decompressor: variable-width LSB-first codes,
    KwKwK (``code == next_code``) case, width growth when the table
    reaches ``2^width`` (to 12), full reset on clear. Stops at the
    end-of-information code OR once ``expected`` symbols are out —
    historic encoders (e.g. the canonical 1x1 GIF) end the data
    sub-blocks without a complete EOI code, and readers are expected
    to tolerate that. Raises ``ValueError`` on out-of-range codes or
    a stream that exhausts before ``expected`` symbols."""
    clear = 1 << min_code_size
    end = clear + 1
    table: dict[int, tuple] = {i: (i,) for i in range(clear)}
    next_code = end + 1
    # Width driven by the per-data-code counter mirroring the encoder
    # (see _lzw_compress): equal to the table-add rule wherever an add
    # exists, but also correct at the flush-code tail and the
    # min_code_size-1 KwKwK first step, where no add happens.
    wc = end + 1
    width = min_code_size + 1
    out: list = []
    prev: tuple | None = None
    buf = 0
    nbits = 0
    pos = 0
    while True:
        if expected is not None and len(out) >= expected:
            return out
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended before end code")
            buf |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width
        if code == clear:
            table = {i: (i,) for i in range(clear)}
            next_code = end + 1
            wc = end + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            if code >= clear:
                raise ValueError("LZW first code not a literal")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)  # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of range")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
        if wc < 4096:
            wc += 1
            if wc > (1 << width) and width < 12:
                width += 1
        out.extend(entry)
        prev = entry


def gif_encode(indices, palette) -> bytes:
    """Minimal REAL GIF87a writer: logical screen descriptor, global
    256-entry color table, one image descriptor, LZW-compressed index
    stream in 255-byte sub-blocks, trailer. ``indices`` is an (h, w)
    array of palette indices; ``palette`` an (n, 3) uint8 array
    (padded to 256 entries)."""
    idx = np.asarray(indices, dtype=np.int64)
    h, w = idx.shape
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(palette)] = np.asarray(palette, dtype=np.uint8)
    out = bytearray(b"GIF87a")
    # global color table: flag set, 8 bits/pixel => size field 7
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x70 | 0x07, 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out.append(8)  # LZW minimum code size
    lzw = _lzw_compress(idx.ravel().tolist(), 8)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def gif_decode_rgb(raw: bytes):
    """REAL GIF decoder (87a/89a, global color table, single
    non-interlaced image): header + logical-screen walk, extension
    blocks skipped by sub-block structure, LZW decompression of the
    index stream (variable-width codes, KwKwK, dictionary resets),
    palette lookup to an (h, w, 3) uint8 array. The compression
    family is genuinely different from PNG's DEFLATE — dictionary
    codes, not Huffman+LZ77 — so the two codecs share no machinery.
    Malformed payloads (bad signature, truncated descriptors or
    sub-blocks, missing global palette, local palette, interlaced
    image, LZW stream errors, pixel-count mismatch, missing image)
    raise ``ValueError`` — the typed-reject contract of the
    WAV/BMP/PNG codecs."""
    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(raw) < 13:
        raise ValueError("truncated logical screen descriptor")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", raw[6:13])
    if not packed & 0x80:
        raise ValueError("missing global color table")
    gct_n = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * gct_n > len(raw):
        raise ValueError("truncated global color table")
    pal = np.frombuffer(raw[pos : pos + 3 * gct_n], dtype=np.uint8)
    pal = pal.reshape(gct_n, 3)
    pos += 3 * gct_n
    while pos < len(raw):
        introducer = raw[pos]
        pos += 1
        if introducer == 0x3B:  # trailer
            raise ValueError("GIF contains no image")
        if introducer == 0x21:  # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(raw):
                    raise ValueError("truncated extension block")
                n = raw[pos]
                pos += 1 + n
                if n == 0:
                    break
            continue
        if introducer != 0x2C:
            raise ValueError(f"unknown block introducer {introducer:#x}")
        if pos + 9 > len(raw):
            raise ValueError("truncated image descriptor")
        _left, _top, w, h, ipacked = struct.unpack(
            "<HHHHB", raw[pos : pos + 9]
        )
        pos += 9
        if ipacked & 0x80:
            raise ValueError("local color table not supported")
        if ipacked & 0x40:
            raise ValueError("interlaced GIF not supported")
        if w <= 0 or h <= 0:
            raise ValueError("degenerate GIF dimensions")
        if pos >= len(raw):
            raise ValueError("missing LZW minimum code size")
        min_code = raw[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError(f"bad LZW minimum code size {min_code}")
        data = bytearray()
        while True:
            if pos >= len(raw):
                raise ValueError("truncated image sub-blocks")
            n = raw[pos]
            pos += 1
            if n == 0:
                break
            if pos + n > len(raw):
                raise ValueError("truncated image sub-blocks")
            data += raw[pos : pos + n]
            pos += n
        idx = _lzw_decompress(bytes(data), min_code, expected=w * h)
        if len(idx) != w * h:
            raise ValueError(
                f"LZW index stream has {len(idx)} pixels, expected {w * h}"
            )
        arr = np.asarray(idx, dtype=np.int64)
        if arr.max() >= gct_n:
            raise ValueError("palette index out of range")
        return pal[arr].reshape(h, w, 3)
    raise ValueError("GIF ended without trailer or image")


def decode_gif_features(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Fifth REAL codec — the palette/LZW compression family:
    :func:`gif_decode_rgb` per payload, emitting the SAME
    exact-integer feature contract as the BMP/PNG codecs (``id,
    width, height, n_pixels, sum_r, sum_g, sum_b, top_left``) so the
    oracle recomputes every decoded byte analytically through the
    palette indirection — one wrong LZW code, palette entry, or
    sub-block stitch flips a sum. Arrow ``mapInPandas``; payloads
    stay in the scan partition, one row per image, nothing
    shuffles."""
    return _per_payload(
        df, bin_col, id_col, _RGB_FEATURES,
        lambda raw: _rgb_features(gif_decode_rgb(raw)),
    )


def gif_ahash(df: DataFrame, bin_col: str, id_col: str, grid: int = 6) -> DataFrame:
    """aHash over the REAL GIF decode path — same integer-exact
    mosaic contract as :func:`bmp_ahash`/:func:`png_ahash` (cell
    luminance = r+g+b at (gx·w // grid, gy·h // grid); bit =
    ``grid²·gray > Σgray``): identical pixels produce IDENTICAL
    fingerprints regardless of container, so ONE banded hamming index
    serves a mixed BMP/PNG/GIF corpus. Output: ``id``, ``width``,
    ``height``, ``ahash``."""
    return _image_hash_stage(df, bin_col, id_col, gif_decode_rgb, grid, "ahash")


def _wav_pcm16(raw: bytes):
    """The RIFF/WAVE PCM16 decoder behind :func:`decode_wav_features`
    and :func:`wav_goertzel_hash`: verify the ``RIFF``/``WAVE``
    magics, then iterate ``<id, size, body>`` chunks (word-aligned,
    unknown chunks skipped) to find ``fmt `` (sample rate, PCM check)
    and ``data`` (``np.frombuffer('<i2')``). Returns (sample_rate,
    int64 numpy samples); typed ValueError on malformed payloads."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (size,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        if pos + 8 + size > len(raw):
            raise ValueError(
                f"chunk {cid!r} declares {size} bytes past end of payload"
            )
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, _nch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt != 1 or bits != 16:
                raise ValueError("only PCM16 supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt /data chunk")
    return rate, np.frombuffer(data, dtype="<i2").astype(np.int64)


def goertzel_tables(
    frame: int = 16, bands: int = 4, scale: int = 1000
) -> list:
    """Integer-quantized cos/sin tables for the Goertzel filterbank:
    one (band k, position i, c, s) row per tap, ``c = ⌊cos(2πki/frame)
    ·scale + 0.5⌋`` — HALF-UP rounding (an exact −.5 fraction rounds
    toward +∞, not away from zero; at frame=16/scale=1000 no tap
    lands on an exact .5 so the distinction is unobservable, but
    other frame/scale choices CAN hit ties on negative cosines —
    this documented contract is what both engines must then follow,
    and the oracle inherits it automatically because the SAME
    function feeds the Arrow kernel and the oracle's literal VALUES
    list). ``scale`` = 1000 keeps the worst-case energy (16 taps ·
    32768 amplitude · scale)² · 2 ≈ 5.5e17 inside int64."""
    out = []
    for k in range(1, bands + 1):
        for i in range(frame):
            a = 2.0 * math.pi * k * i / frame
            c = math.floor(math.cos(a) * scale + 0.5)
            s = math.floor(math.sin(a) * scale + 0.5)
            out.append((k, i, int(c), int(s)))
    return out


def wav_goertzel_hash(
    df: DataFrame,
    bin_col: str,
    id_col: str,
    frame: int = 16,
    bands: int = 4,
    frames: int = 9,
    scale: int = 1000,
) -> DataFrame:
    """Audio fingerprint over the REAL WAV decode path — the audio
    twin of the image aHash family (Haitsma-Kalker 2002 style):
    per frame, the exact-integer Goertzel tone energies ``E[f][k] =
    C² + S²`` with ``C = Σ x·c, S = Σ x·s`` over the quantized
    cos/sin taps; bit((f, k)) = "band k's energy ROSE from frame f−1
    to f" — the energy-derivative code, invariant to uniform gain
    (doubling every sample scales every energy by 4 and flips no
    comparison). 32 bits at the defaults ((frames−1)·bands), feeding
    the same banded hamming join as SimHash/aHash, so ONE index
    design serves text, images, and audio.

    Every quantity is an exact int64 (samples are int16, taps are
    quantized integers), so fingerprints are bit-identical on any
    engine. Clips shorter than ``frames·frame`` samples raise the
    typed ValueError of the codec family.

    Output: ``id``, ``sample_rate``, ``n_samples``, ``ahash``.
    """
    tabs = goertzel_tables(frame, bands, scale)
    cmat = np.zeros((bands, frame), dtype=np.int64)
    smat = np.zeros((bands, frame), dtype=np.int64)
    for k, i, c, s in tabs:
        cmat[k - 1, i] = c
        smat[k - 1, i] = s
    need = frames * frame

    def one(raw: bytes) -> list[tuple]:
        rate, x = _wav_pcm16(raw)
        if len(x) < need:
            raise ValueError(
                f"clip has {len(x)} samples, fingerprint needs {need}"
            )
        xs = x[:need].reshape(frames, frame)
        cc = xs @ cmat.T  # (frames, bands) exact int64
        ss = xs @ smat.T
        e = cc * cc + ss * ss
        # bit (f, k): band k's energy rose from frame f to f + 1
        return [(rate, len(x), _pack_bits(e[1:] > e[:-1]))]

    return _per_payload(
        df, bin_col, id_col, "sample_rate INT, n_samples LONG, ahash LONG", one
    )


def y4m_encode(frames) -> bytes:
    """Minimal REAL YUV4MPEG2 writer: plain-text stream header
    (width, height, frame rate, interlace, aspect, C420), then per
    frame a ``FRAME\\n`` marker + planar YUV420 data (full-res Y,
    quarter-res U and V fixed at neutral 128). ``frames`` is a
    (n, h, w) uint8 luminance array."""
    fr = np.asarray(frames, dtype=np.uint8)
    n, h, w = fr.shape
    if h % 2 or w % 2:
        raise ValueError("C420 needs even dimensions")
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode())
    uv = bytes([128] * ((w // 2) * (h // 2)))
    for f in range(n):
        out += b"FRAME\n"
        out += fr[f].tobytes()
        out += uv + uv
    return bytes(out)


def y4m_decode(raw: bytes):
    """REAL YUV4MPEG2 decoder (C420 planar): parse the stream header
    tags (W/H required; C must be a 420 variant when present), walk
    ``FRAME`` markers (parameters after FRAME are legal and skipped),
    slice each frame's Y plane (U/V skipped — luminance drives every
    downstream hash/feature), return an (n, h, w) uint8 array. The
    FOURTH modality container, and like the others every malformation
    — bad magic, missing W/H, odd dims, non-420 colorspace, bad frame
    marker, truncated planes, zero frames — raises a typed
    ValueError rather than yielding garbage."""
    nl = raw.find(b"\n")
    if nl < 0 or not raw.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    for tag in raw[9:nl].split():
        t = tag.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("C") and not t[1:].startswith("420"):
            raise ValueError(f"unsupported colorspace {t}")
    if not w or not h:
        raise ValueError("missing W/H header tags")
    if w % 2 or h % 2:
        raise ValueError("C420 needs even dimensions")
    ysize = w * h
    csize = (w // 2) * (h // 2)
    pos = nl + 1
    frames = []
    while pos < len(raw):
        fnl = raw.find(b"\n", pos)
        if fnl < 0 or raw[pos : pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        pos = fnl + 1
        if pos + ysize + 2 * csize > len(raw):
            raise ValueError("truncated frame planes")
        frames.append(
            np.frombuffer(raw[pos : pos + ysize], dtype=np.uint8).reshape(
                h, w
            )
        )
        pos += ysize + 2 * csize
    if not frames:
        raise ValueError("stream contains no frames")
    return np.stack(frames)


def y4m_features(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Video feature extraction over the REAL Y4M decode: per clip
    the dimensions, frame count, total luminance sum, and the
    top-left Y of the first and last frames — the same exact-integer
    contract as the image codecs, so the oracle checks every decoded
    byte analytically. Output: ``id, width, height, n_frames,
    sum_y, first_tl, last_tl``."""
    def one(raw: bytes) -> list[tuple]:
        fr = y4m_decode(raw)
        n, h, w = fr.shape
        return [(
            w, h, n,
            int(fr.astype(np.int64).sum()),
            int(fr[0, 0, 0]),
            int(fr[-1, 0, 0]),
        )]

    return _per_payload(
        df,
        bin_col,
        id_col,
        "width INT, height INT, n_frames INT, sum_y LONG, first_tl INT, last_tl INT",
        one,
    )


def y4m_video_hash(
    df: DataFrame, bin_col: str, id_col: str, grid: int = 2
) -> DataFrame:
    """Temporal video fingerprint over the REAL Y4M decode: each
    frame contributes a ``grid²``-bit luminance mosaic (the
    bmp/png/gif aHash contract per frame — cell at
    (gx·w // grid, gy·h // grid), bit = grid²·cell > Σcells), frames
    concatenated in time order into one integer — 32 bits at 8
    frames × grid 2, feeding the SAME banded hamming join as text /
    image / audio fingerprints: one index design, four modalities.
    Output: ``id``, ``n_frames``, ``vhash``."""
    def one(raw: bytes) -> list[tuple]:
        fr = y4m_decode(raw).astype(np.int64)
        n = fr.shape[0]
        if n * grid * grid >= 63:
            raise ValueError("video hash overflows a signed-64 int")
        return [(n, _ahash(fr, grid))]

    return _per_payload(df, bin_col, id_col, "n_frames INT, vhash LONG", one)


# ---------------------------------------------------------------------------
# JPEG (baseline JFIF) — the seventh real codec, closing the last
# stub-backed image format. Both halves are pure numpy/stdlib.
# ---------------------------------------------------------------------------

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_matrix():
    """Orthonormal 8x8 DCT-II basis T with T[u,x] = c(u)/2 ·
    cos((2x+1)uπ/16), c(0)=1/√2 else 1 — DCT is T·f·Tᵀ, IDCT is
    Tᵀ·F·T. For a constant block the only nonzero coefficient is
    DC = 8·(v−128) up to ~1e-13 float error, which integer rounding
    absorbs — the exactness property the fixtures lean on."""
    t = np.zeros((8, 8))
    for u in range(8):
        c = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            t[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return t


def _jpeg_canonical_tables():
    """The encoder's Huffman tables: CANONICAL fixed-length codes
    declared in the DHT segment instead of the spec's Annex K
    defaults — DC symbols 0..11 all at 4 bits (12 < 16 leaves the
    all-ones code unassigned), AC symbols {EOB, ZRL, (run<<4)|size
    for run 0..15, size 1..10} all at 8 bits (162 < 256 likewise).
    Any conforming decoder (including ours) reads the tables from
    DHT, so the streams are valid JPEG; self-defining the tables
    avoids transcribing 300+ Annex K constants."""
    dc_syms = list(range(12))
    ac_syms = sorted(
        {0x00, 0xF0}
        | {(r << 4) | s for r in range(16) for s in range(1, 11)}
    )

    def canon(symbols, length):
        bits = [0] * 16
        bits[length - 1] = len(symbols)
        codes = {sym: (i, length) for i, sym in enumerate(symbols)}
        return bits, symbols, codes

    return canon(dc_syms, 4), canon(ac_syms, 8)


def _jpeg_category(v: int) -> tuple[int, int]:
    """JPEG magnitude category: (size t, value bits) with negative
    values encoded as v + 2^t − 1."""
    a = abs(v)
    t = a.bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


def jpeg_encode_rgb(pix, quant=None) -> bytes:
    """REAL baseline JFIF encoder for an 8-bit RGB array (h, w, 3)
    with h, w multiples of 8: SOI/APP0/DQT/SOF0/DHT/SOS/EOI markers,
    4:4:4 sampling (every component 1x1), BT.601 YCbCr, orthonormal
    float DCT, integer quantization against ``quant`` (a 64-entry
    table applied to all components; default all-ones — near-lossless,
    and EXACTLY lossless for blocks of constant gray), canonical
    self-declared Huffman tables, DC diff coding, AC run-length with
    EOB/ZRL, and 0xFF byte stuffing. Fixture generator AND a
    legitimate sink primitive, like ``png_encode_rgb``."""
    pix = np.asarray(pix, dtype=np.float64)
    h, w, ch = pix.shape
    if ch != 3 or h % 8 or w % 8:
        raise ValueError("jpeg_encode_rgb expects (8k, 8m, 3)")
    if quant is None:
        quant = [1] * 64
    q = np.asarray(quant, dtype=np.float64).reshape(8, 8)
    r, g, b = pix[..., 0], pix[..., 1], pix[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    t = _dct_matrix()
    (dc_bits, dc_syms, dc_codes), (ac_bits, ac_syms, ac_codes) = (
        _jpeg_canonical_tables()
    )

    out_bits: list[tuple[int, int]] = []

    def emit(code: int, nbits: int) -> None:
        out_bits.append((code, nbits))

    prev_dc = [0, 0, 0]
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            for ci, plane in enumerate((y, cb, cr)):
                block = plane[by : by + 8, bx : bx + 8] - 128.0
                coef = t @ block @ t.T
                qc = np.floor(coef / q + 0.5).astype(np.int64)
                zz = [int(qc.flat[i]) for i in _JPEG_ZIGZAG]
                diff = zz[0] - prev_dc[ci]
                prev_dc[ci] = zz[0]
                tlen, vbits = _jpeg_category(diff)
                code, nb = dc_codes[tlen]
                emit(code, nb)
                if tlen:
                    emit(vbits, tlen)
                run = 0
                last_nz = max(
                    (i for i in range(1, 64) if zz[i]), default=0
                )
                for i in range(1, last_nz + 1):
                    if zz[i] == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, nb = ac_codes[0xF0]
                        emit(code, nb)
                        run -= 16
                    tlen, vbits = _jpeg_category(zz[i])
                    code, nb = ac_codes[(run << 4) | tlen]
                    emit(code, nb)
                    emit(vbits, tlen)
                    run = 0
                if last_nz < 63:
                    code, nb = ac_codes[0x00]
                    emit(code, nb)

    # pack MSB-first with 0xFF00 stuffing, pad final byte with 1s
    scan = bytearray()
    acc = 0
    n = 0
    for code, nb in out_bits:
        acc = (acc << nb) | (code & ((1 << nb) - 1))
        n += nb
        while n >= 8:
            byte = (acc >> (n - 8)) & 0xFF
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0x00)
            n -= 8
    if n:
        byte = ((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF
        scan.append(byte)
        if byte == 0xFF:
            scan.append(0x00)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    # DQT carries the table in zigzag order: segment entry i is the
    # natural-order element at _JPEG_ZIGZAG[i]
    qnat = np.asarray(quant, dtype=np.int64).reshape(64)
    qz = bytes(int(qnat[_JPEG_ZIGZAG[i]]) for i in range(64))
    dqt = seg(0xFFDB, b"\x00" + qz)  # table 0, 8-bit, zigzag order
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00",  # 3 comps, 1x1, Tq 0
    )

    def dht(tc_th: int, bits: list, syms: list) -> bytes:
        return seg(
            0xFFC4,
            bytes([tc_th]) + bytes(bits) + bytes(syms),
        )

    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    sos = seg(
        0xFFDA,
        b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00",  # all comps use DC0/AC0
    )
    return (
        b"\xff\xd8"
        + app0
        + dqt
        + sof
        + dht(0x00, dc_bits, dc_syms)
        + dht(0x10, ac_bits, ac_syms)
        + sos
        + bytes(scan)
        + b"\xff\xd9"
    )


def jpeg_decode_rgb(raw: bytes):
    """REAL baseline JPEG decoder (JFIF/DCT, pure numpy/stdlib):
    marker walk (SOI, APPn/COM skipped, DQT with 8-bit precision,
    SOF0, DHT, SOS, EOI), Huffman tables built canonically from DHT,
    MSB-first entropy reader with 0xFF00 unstuffing, per-MCU DC-diff
    + AC run-length decode, dezigzag, dequantize, orthonormal IDCT,
    level shift + clamp, BT.601 YCbCr→RGB with half-up rounding.
    Supports 8-bit precision, 1 or 3 components, 1x1 sampling
    (4:4:4); grayscale replicates into three channels so downstream
    stages see one shape. Progressive (SOF2), subsampled, arithmetic,
    or restart-interval streams raise ``ValueError`` — the same
    typed-reject contract as the other codecs.

    Returns an (h, w, 3) uint8 numpy array. Round trip through
    :func:`jpeg_encode_rgb` is exact for constant-gray 8x8 blocks
    under an all-ones quantization table (the fixture regime) and
    within a couple of grey levels for arbitrary images (float DCT +
    integer quantization are the only loss sources at q=1).
    """
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    scan_comps = None
    scan_start = None
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", raw[pos + 2 : pos + 4])
        data = raw[pos + 4 : pos + 2 + seg_len]
        if len(data) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (possibly several tables)
            off = 0
            while off < len(data):
                pq, tq = data[off] >> 4, data[off] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                if off + 65 > len(data):
                    raise ValueError("truncated DQT")
                tbl = np.zeros(64, dtype=np.int64)
                for i in range(64):
                    tbl[_JPEG_ZIGZAG[i]] = data[off + 1 + i]
                quant[tq] = tbl.reshape(8, 8)
                off += 65
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError("only 1 or 3 components supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = data[6 + 3 * i : 9 + 3 * i]
                if hv != 0x11:
                    raise ValueError("only 1x1 sampling (4:4:4) supported")
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG frame unsupported")
        elif marker == 0xC4:  # DHT (possibly several tables)
            off = 0
            while off < len(data):
                tc, th = data[off] >> 4, data[off] & 0xF
                bits = list(data[off + 1 : off + 17])
                nsyms = sum(bits)
                syms = list(data[off + 17 : off + 17 + nsyms])
                if len(syms) != nsyms:
                    raise ValueError("truncated DHT")
                table: dict[tuple[int, int], int] = {}
                code = 0
                k = 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        table[(length, code)] = syms[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = table
                off += 17 + nsyms
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack(">H", data[:2])
            if ri:
                raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = data[0]
            scan_comps = []
            for i in range(ns):
                cs, tt = data[1 + 2 * i], data[2 + 2 * i]
                scan_comps.append((cs, tt >> 4, tt & 0xF))
            scan_start = pos + 2 + seg_len
            break
        # APPn / COM / others: skip
        pos += 2 + seg_len
    if frame is None or scan_start is None:
        raise ValueError("missing SOF0 or SOS")
    h, w, comps = frame
    if h % 8 or w % 8:
        raise ValueError("dimensions must be multiples of 8 (no crop)")
    if len(scan_comps) != len(comps):
        raise ValueError("scan/frame component mismatch")

    class _Bits:
        def __init__(self, buf: bytes, start: int):
            self.buf = buf
            self.pos = start
            self.acc = 0
            self.n = 0

        def _fill(self) -> None:
            if self.pos >= len(self.buf):
                raise ValueError("entropy stream exhausted")
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.buf):
                    raise ValueError("dangling 0xFF in scan")
                nxt = self.buf[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("unexpected marker inside scan")
            self.acc = (self.acc << 8) | b
            self.n += 8

        def bit(self) -> int:
            if self.n == 0:
                self._fill()
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, k: int) -> int:
            v = 0
            for _ in range(k):
                v = (v << 1) | self.bit()
            return v

    def huff_decode(rd: "_Bits", table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | rd.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan")

    def extend(v: int, t: int) -> int:
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    t = _dct_matrix()
    rd = _Bits(raw, scan_start)
    nbx, nby = w // 8, h // 8
    planes = [np.zeros((h, w), dtype=np.float64) for _ in comps]
    prev_dc = [0] * len(comps)
    comp_q = []
    for (cid, tq), (cs, dct, act) in zip(comps, scan_comps):
        if cid != cs:
            raise ValueError("scan component order mismatch")
        if tq not in quant:
            raise ValueError(f"missing quant table {tq}")
        if (0, dct) not in huff or (1, act) not in huff:
            raise ValueError("missing Huffman table")
        comp_q.append((quant[tq], huff[(0, dct)], huff[(1, act)]))
    for by in range(nby):
        for bx in range(nbx):
            for ci, (q, dc_tab, ac_tab) in enumerate(comp_q):
                zz = np.zeros(64, dtype=np.int64)
                tlen = huff_decode(rd, dc_tab)
                diff = extend(rd.bits(tlen), tlen) if tlen else 0
                prev_dc[ci] += diff
                zz[0] = prev_dc[ci]
                k = 1
                while k < 64:
                    sym = huff_decode(rd, ac_tab)
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0xF
                    if size == 0:
                        if run != 15:
                            raise ValueError("bad AC symbol")
                        k += 16  # ZRL
                        continue
                    k += run
                    if k >= 64:
                        raise ValueError("AC coefficient overflow")
                    zz[k] = extend(rd.bits(size), size)
                    k += 1
                coef = np.zeros(64, dtype=np.float64)
                for i in range(64):
                    coef[_JPEG_ZIGZAG[i]] = zz[i]
                block = t.T @ (coef.reshape(8, 8) * q) @ t
                planes[ci][
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] = block + 128.0
    if len(comps) == 1:
        yv = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
        return np.repeat(yv[..., None], 3, axis=2)
    yv, cb, cr = planes
    r = yv + 1.402 * (cr - 128.0)
    g = yv - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = yv + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def decode_jpeg_features(df: DataFrame, bin_col: str, id_col: str) -> DataFrame:
    """Seventh REAL codec — the DCT-compressed image path that was the
    last stub-backed claim: :func:`jpeg_decode_rgb` per payload
    (marker walk + DHT Huffman + dequant + IDCT + color convert),
    emitting the SAME exact-integer feature contract as the BMP/PNG
    codecs (``id, width, height, n_pixels, sum_r, sum_g, sum_b,
    top_left``) so the oracle checks every decoded byte analytically
    on the block-constant fixtures where baseline JPEG is exact.

    Same Arrow ``mapInPandas`` shape as every codec stage: payload
    bytes stay in the scan partition, one output row per image,
    nothing shuffles."""
    return _per_payload(
        df, bin_col, id_col, _RGB_FEATURES,
        lambda raw: _rgb_features(jpeg_decode_rgb(raw)),
    )


def jpeg_ahash(df: DataFrame, bin_col: str, id_col: str, grid: int = 6) -> DataFrame:
    """aHash over the REAL JPEG decode path: :func:`jpeg_decode_rgb`,
    then the SAME integer-exact mosaic contract as
    :func:`bmp_ahash`/:func:`png_ahash` (cell luminance = r+g+b at
    (gx·w // grid, gy·h // grid); bit = ``grid²·gray > Σgray``), so a
    JPEG, PNG, GIF, or BMP of identical pixels produces the IDENTICAL
    fingerprint and all four containers feed one shared banded
    hamming join. Output: ``id``, ``width``, ``height``, ``ahash``."""
    return _image_hash_stage(df, bin_col, id_col, jpeg_decode_rgb, grid, "ahash")
