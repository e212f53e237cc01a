"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted via Arrow-batched mapInPandas.

The decode kernel is REAL for the formats a pure-numpy parser can
handle — binary netpbm (P6 PPM / P5 PGM, including 16-bit samples and
header comments), uncompressed 24/32-bit BI_RGB BMP, and (since r7)
8-bit non-interlaced PNG (gray/RGB/GA/RGBA: chunk walk, zlib IDAT
inflate, all five scanline filters reversed — stdlib zlib, no PIL).
Payloads whose magic bytes match none of those fall back to
deterministic metadata-from-bytes (clearly marked 'opaque');
JPEG/MP4 would slot into the same dispatch once PIL/ffmpeg exist in
the image. All Spark
plumbing is identical either way: binary column, metadata struct,
Arrow-batched mapInPandas, no shuffle — decode is a narrow map that
scales linearly with executors at 100 TB.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, fmt string, n_bytes long, width long, height long, "
    "channels long, maxval long, n_frames long, mean_pixel double, checksum string"
)


# ---------------------------------------------------------------------------
# Real decoders (pure numpy — no PIL/ffmpeg in this container)
# ---------------------------------------------------------------------------


def _ppm_tokens(data: bytes, n: int):
    """Yield the first n whitespace-separated header tokens after the
    magic, honoring netpbm '#' comments; returns (tokens, offset of the
    pixel plane = one whitespace byte after the last token)."""
    toks, i = [], 2  # skip 2-byte magic
    while len(toks) < n:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if i < len(data) and data[i : i + 1] == b"#":
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        if i == j:
            raise ValueError("truncated netpbm header")
        toks.append(int(data[i:j]))
        i = j
    return toks, i + 1  # single whitespace terminates the header


def decode_netpbm(data: bytes) -> dict:
    """Binary PPM (P6, 3 channels) / PGM (P5, 1 channel). Handles
    maxval > 255 (two-byte big-endian samples) and header comments."""
    channels = 3 if data[:2] == b"P6" else 1
    (width, height, maxval), off = _ppm_tokens(data, 3)
    bps = 2 if maxval > 255 else 1
    n_samples = width * height * channels
    plane = data[off : off + n_samples * bps]
    if len(plane) < n_samples * bps:
        raise ValueError("truncated netpbm pixel plane")
    px = np.frombuffer(plane, dtype=">u2" if bps == 2 else np.uint8)
    return {
        "fmt": "ppm" if channels == 3 else "pgm",
        "width": width,
        "height": height,
        "channels": channels,
        "maxval": maxval,
        "mean_pixel": round(float(px.mean()), 6) if px.size else 0.0,
    }


def decode_bmp(data: bytes) -> dict:
    """Uncompressed BI_RGB BMP, 24 or 32 bpp, bottom-up or top-down,
    with the 4-byte row padding stripped before pixel stats."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(data[10:14], "little")
    width = int.from_bytes(data[18:22], "little", signed=True)
    height = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    channels = bpp // 8
    abs_h = abs(height)
    row_bytes = (width * channels + 3) & ~3
    rows = np.frombuffer(data[off : off + row_bytes * abs_h], dtype=np.uint8)
    if rows.size < row_bytes * abs_h:
        raise ValueError("truncated BMP pixel array")
    # strip per-row padding (stats are row-order-independent, but the
    # pixel array is normalized top-down for perceptual hashing)
    px = rows.reshape(abs_h, row_bytes)[:, : width * channels]
    pixels = px.reshape(abs_h, width, channels)
    if height > 0:  # positive height = bottom-up storage
        pixels = pixels[::-1]
    return {
        "fmt": "bmp",
        "width": width,
        "height": abs_h,
        "channels": channels,
        "maxval": 255,
        "mean_pixel": round(float(px.mean()), 6) if px.size else 0.0,
        "pixels": pixels,
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> channel count (8-bit depth; palette unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_unfilter(raw: np.ndarray, width: int, height: int, channels: int) -> np.ndarray:
    """Reverse the per-scanline PNG filters (spec §6: None/Sub/Up/
    Average/Paeth). Sub is a cumsum over pixel-stride groups, Up a
    vectorized row add; Average/Paeth carry a left-neighbor dependency
    and run per-pixel (encoders here emit filter 0, so the sequential
    path is a correctness lane, not the hot one)."""
    bpp = channels
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.uint8)
    raw = raw.reshape(height, stride + 1)
    for y in range(height):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub: cumsum within each pixel-offset lane
            rec = np.cumsum(line.reshape(-1, bpp), axis=0).reshape(-1)
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype in (3, 4):  # Average / Paeth: sequential left-dep
            # each reconstructed byte must be reduced mod 256 BEFORE it
            # feeds the next pixel's predictor — Average's >>1 and
            # Paeth's comparisons read true byte values, not unreduced
            # running sums (filters 1/2 tolerate the deferred mask only
            # because plain addition is mod-256-linear)
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 3:
                    rec[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = (rec & 0xFF).astype(np.uint8)
    return out


def decode_png(data: bytes) -> dict:
    """8-bit non-interlaced PNG (gray / RGB / gray+alpha / RGBA):
    chunk walk, IHDR parse, zlib-inflate the concatenated IDAT stream,
    reverse the scanline filters, pixel stats. Pure numpy + stdlib
    zlib — the container has no PIL, and the PNG spec (RFC 2083) needs
    neither. Palette (color type 3), 16-bit depth and Adam7 interlace
    raise rather than guess."""
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        length = int.from_bytes(data[pos : pos + 4], "big")
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG (bit_depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace}); only 8-bit non-interlaced gray/RGB/GA/RGBA"
        )
    channels = _PNG_CHANNELS[color_type]
    try:
        inflated = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    raw = np.frombuffer(inflated, dtype=np.uint8)
    expect = height * (width * channels + 1)
    if raw.size != expect:
        raise ValueError(f"PNG pixel stream {raw.size} != expected {expect}")
    px = _png_unfilter(raw, width, height, channels)
    return {
        "fmt": "png",
        "width": width,
        "height": height,
        "channels": channels,
        "maxval": 255,
        "mean_pixel": round(float(px.mean()), 6) if px.size else 0.0,
        "pixels": px.reshape(height, width, channels),
    }


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


PNG_CHANNELS_RGB = 3


def encode_png_bytes(plane: bytes, width: int, height: int) -> bytes:
    """Minimal valid PNG writer: 8-bit, filter 0 on every scanline,
    one zlib IDAT. Any PNG reader (including decode_png) parses it."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[PNG_CHANNELS_RGB]
    import zlib

    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )
    stride = width * PNG_CHANNELS_RGB
    scanlines = b"".join(
        b"\x00" + plane[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_image(data: bytes) -> Optional[dict]:
    """Dispatch on magic bytes; None for payloads no installed decoder
    understands (the honest 'opaque' path — ffmpeg would extend this
    dict of magics). Returns the metadata/stats contract only; use
    :func:`decode_gray_pixels` when the pixel plane itself is needed
    (perceptual hashing)."""
    d = _decode_image_full(data)
    if d is not None:
        d = dict(d)
        d.pop("pixels", None)
    return d


def _decode_image_full(data: bytes) -> Optional[dict]:
    if data[:2] in (b"P6", b"P5"):
        return decode_netpbm(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from . import jpeg

        return jpeg.decode_jpeg(data)
    return None


def decode_gray_pixels(data: bytes):
    """(grayscale float64 plane, fmt) for any decodable payload —
    channel-averaged, alpha included as a channel — or (None, None)
    for opaque/corrupt bytes. The shared front end of perceptual
    hashing: the SAME image transported as PPM, BMP, PNG (lossless)
    hashes identically, and as JPEG within a few bits.

    Corrupt payloads whose LEADING BYTES merely coincide with a magic
    ('BM', 0xFFD8, a text doc starting with 'P6 ...') must fall back
    to the opaque path, not blow up the whole hashing query — decoders
    fail-stop with ValueError, and here that means "not an image after
    all" (review find: the first cut let the ValueError escape the
    mapInPandas kernel)."""
    try:
        if data[:2] in (b"P6", b"P5"):
            return _pixels_netpbm(data), "ppm" if data[:2] == b"P6" else "pgm"
        d = _decode_image_full(data)
    except ValueError:
        return None, None
    if d is None or "pixels" not in d:
        return None, None
    px = np.asarray(d["pixels"], dtype=np.float64)
    gray = px.mean(axis=2) if px.ndim == 3 else px
    return gray, d["fmt"]


def _fan_out_small(docs: DataFrame) -> DataFrame:
    """Fan a small scan out before a CPU-heavy encode/decode kernel
    chain (r11 scale-lane find: the sf0.1 documents file is one parquet
    split, so every downstream Arrow kernel ran on ONE core — 17.6 s ->
    5.3 s for the MJPEG dhash leg once spread). r15: shared with the
    text/vector paths — see operators/scale.py fan_out_small."""
    from .scale import fan_out_small

    return fan_out_small(docs)


TEXT_COL = "text"
ID_COL = "doc_id"


def to_binary_assets(docs: DataFrame) -> DataFrame:
    """Model an asset table: id + opaque binary payload + metadata
    struct (mime/size), as a real image/audio table would look."""
    payload = F.encode(F.col(TEXT_COL), "utf-8")
    return docs.select(
        F.col(ID_COL),
        payload.alias("payload"),
        F.struct(
            F.lit("application/x-fake").alias("mime"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def encode_ppm(docs: DataFrame, width: int = 24) -> DataFrame:
    """Render each document's bytes as a real binary PPM (P6) payload:
    fixed width, height = ceil(n_bytes / (3*width)), pixel plane =
    text bytes zero-padded to width*height*3. A deterministic synthetic
    image per doc — what a fixture-generation stage produces when the
    corpus has no real media — and a REAL image: any netpbm tool (or
    decode_assets below) parses it.
    """

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(text: str) -> bytes:
            raw = text.encode("utf-8")
            h = max(1, -(-len(raw) // (3 * width)))
            plane = raw.ljust(width * h * 3, b"\x00")
            return b"P6\n%d %d\n255\n" % (width, h) + plane

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf[ID_COL], "payload": pdf[TEXT_COL].map(one)}
            )

    out = _fan_out_small(docs.select(ID_COL, TEXT_COL)).mapInPandas(encode, schema="doc_id long, payload binary")
    return out.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/x-portable-pixmap").alias("mime"),
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


ASSET_WIDTH = 24


def encode_png(docs: DataFrame) -> DataFrame:
    """PNG twin of encode_ppm: the SAME deterministic pixel plane (text
    bytes zero-padded to ASSET_WIDTH*h*3), transported as a real compressed
    PNG instead of raw PPM — so decoded geometry/stats must agree with
    the PPM path bit-for-bit while the payload exercises the inflate +
    unfilter lane."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(text: str) -> bytes:
            raw = text.encode("utf-8")
            h = max(1, -(-len(raw) // (3 * ASSET_WIDTH)))
            plane = raw.ljust(ASSET_WIDTH * h * 3, b"\x00")
            return encode_png_bytes(plane, ASSET_WIDTH, h)

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf[ID_COL], "payload": pdf[TEXT_COL].map(one)}
            )

    out = _fan_out_small(docs.select(ID_COL, TEXT_COL)).mapInPandas(encode, schema="doc_id long, payload binary")
    return out.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/png").alias("mime"),
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


SUBSAMPLE_420 = True


def encode_jpeg(docs: DataFrame) -> DataFrame:
    """JPEG twin of encode_ppm/encode_png: the same deterministic RGB
    plane, transported as a REAL baseline JPEG (operators/jpeg.py —
    Annex K tables, 4:2:0 by default like real-world encoders). Lossy,
    so unlike the PPM/PNG twins the decoded stats are close to, not
    equal to, the source plane's — the pytest gate bounds the error."""
    import numpy as np

    from . import jpeg as jpeg_codec

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(text: str) -> bytes:
            raw = text.encode("utf-8")
            h = max(1, -(-len(raw) // (3 * ASSET_WIDTH)))
            plane = raw.ljust(ASSET_WIDTH * h * 3, b"\x00")
            px = np.frombuffer(plane, dtype=np.uint8).reshape(h, ASSET_WIDTH, 3)
            return jpeg_codec.encode_jpeg_bytes(px, subsample_420=SUBSAMPLE_420)

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf[ID_COL], "payload": pdf[TEXT_COL].map(one)}
            )

    out = _fan_out_small(docs.select(ID_COL, TEXT_COL)).mapInPandas(encode, schema="doc_id long, payload binary")
    return out.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/jpeg").alias("mime"),
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_assets(assets: DataFrame) -> DataFrame:
    """Decode each binary payload into image/frame metadata via
    Arrow-batched mapInPandas.

    REAL decode for netpbm (P6/P5) and uncompressed BMP — header parse,
    maxval handling, row-padding strip, pixel-plane stats (decode_image
    above, pure numpy). Payloads with no recognized magic take the
    deterministic metadata-from-bytes fallback, labeled fmt='opaque'
    (that path is the honest stand-in for formats whose codecs aren't
    in this container). One narrow map, no shuffle, either way.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                img = decode_image(b)
                if img is not None:
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "fmt": img["fmt"],
                            "n_bytes": len(b),
                            "width": img["width"],
                            "height": img["height"],
                            "channels": img["channels"],
                            "maxval": img["maxval"],
                            "n_frames": 1,
                            "mean_pixel": img["mean_pixel"],
                            "checksum": format(
                                len(b) * 2654435761 % (1 << 32), "08x"
                            ),
                        }
                    )
                else:
                    n = len(b)
                    arr = np.frombuffer(b, dtype=np.uint8)
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "fmt": "opaque",
                            "n_bytes": n,
                            "width": n % 640,
                            "height": (n * 7) % 480,
                            "channels": 1,
                            "maxval": 255,
                            "n_frames": n % 24 + 1,
                            "mean_pixel": round(float(arr.mean()), 6) if n else 0.0,
                            "checksum": format(n * 2654435761 % (1 << 32), "08x"),
                        }
                    )
            yield pd.DataFrame(rows)

    return assets.select("doc_id", "payload").mapInPandas(decode, schema=DECODED_SCHEMA)


FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, mean_byte double, max_byte long, n_distinct_bytes long"
)


def extract_features(assets: DataFrame) -> DataFrame:
    """Byte-level feature extraction over the binary payload via
    Arrow-batched mapInPandas — the shape a real embedding/feature
    kernel takes (numpy over the raw bytes, one batch at a time,
    no shuffle; output is a narrow fixed-width row per asset)."""
    import numpy as np

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [a.size for a in arrs],
                    "mean_byte": [round(float(a.mean()), 6) if a.size else 0.0 for a in arrs],
                    "max_byte": [int(a.max()) if a.size else 0 for a in arrs],
                    "n_distinct_bytes": [int(np.unique(a).size) for a in arrs],
                }
            )

    return assets.select("doc_id", "payload").mapInPandas(features, schema=FEATURES_SCHEMA)


RESIZE_MAX_W = 320
RESIZE_MAX_H = 240


def resize_assets(decoded: DataFrame) -> DataFrame:
    """Fit-in-box resize of the decoded dimensions: pure column
    arithmetic (no UDF — the geometry math is JVM-side and codegen'd;
    only the pixel resample itself would need a kernel, which is the
    STUB part at this container's library surface)."""
    w = F.greatest(F.col("width"), F.lit(1))
    h = F.greatest(F.col("height"), F.lit(1))
    scale = F.least(F.lit(1.0), F.lit(float(RESIZE_MAX_W)) / w, F.lit(float(RESIZE_MAX_H)) / h)
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.round(scale, 6).alias("scale"),
        F.floor(w * scale).cast("long").alias("out_w"),
        F.floor(h * scale).cast("long").alias("out_h"),
    )


SAMPLE_EVERY_N = 4
SAMPLE_FPS = 24.0


def sample_frames(decoded: DataFrame) -> DataFrame:
    """Frame sampling: explode every `SAMPLE_EVERY_N`-th frame index of each
    asset into its own row with a timestamp — the generate/UNNEST shape
    (SURVEY E5) applied to media. Row count scales with frames kept,
    not frames decoded; at 100 TB the sampled explode is what keeps the
    downstream decode cost sublinear in video length."""
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(SAMPLE_EVERY_N))
    return decoded.select(
        "doc_id", "n_frames", F.explode(idx).alias("frame_idx")
    ).withColumn("frame_ts", F.round(F.col("frame_idx") / F.lit(SAMPLE_FPS), 6))




def _pixels_netpbm(data: bytes) -> np.ndarray:
    """Pixel plane of a binary PPM/PGM as (height, width) grayscale
    float64 (channel mean for P6)."""
    channels = 3 if data[:2] == b"P6" else 1
    (width, height, maxval), off = _ppm_tokens(data, 3)
    bps = 2 if maxval > 255 else 1
    n = width * height * channels
    px = np.frombuffer(
        data[off : off + n * bps], dtype=">u2" if bps == 2 else np.uint8
    ).astype(np.float64)
    if px.size < n:
        raise ValueError("truncated netpbm pixel plane")
    img = px.reshape(height, width, channels)
    return img.mean(axis=2)


DHASH_W = 8
DHASH_H = 8


def _dhash_bits(gray: np.ndarray) -> int:
    """Difference hash: area-downsample to (DHASH_H, DHASH_W+1) blocks,
    bit = left block mean < right block mean. 64 bits at the default
    size. Robust to resolution and brightness scaling; one flipped
    source byte moves one block mean epsilon — identical or near-
    identical hashes for near-identical images.

    Degenerate inputs (fewer than DHASH_H rows and/or DHASH_W+1 cols) are
    upsampled by pixel repetition first: array_split on a too-short
    axis yields EMPTY chunks whose mean is NaN, and NaN comparisons
    silently forced those bits to 0 — a height-1 strip kept only 8 of
    64 effective bits, collapsing unrelated short images into one
    perceptual bucket (found in review; regression-tested)."""
    h, w = gray.shape
    if h < DHASH_H:
        gray = np.repeat(gray, -(-DHASH_H // h), axis=0)
    if w < DHASH_W + 1:
        gray = np.repeat(gray, -(-(DHASH_W + 1) // w), axis=1)
    # r14 (guide §4.2): vectorized block means — the former
    # array_split + per-cell .mean() ran ~72 tiny numpy calls per
    # frame (~0.6 ms/frame, the video-dedup hot spot). reduceat over
    # the SAME block boundaries np.array_split uses computes every
    # cell sum in two passes. Bit-exact on this pipeline's inputs: the
    # gray planes are integer-valued (uint8 decodes / rounded means),
    # so every block sum is an exact integer in float64 regardless of
    # summation order, and sum/size == np.mean exactly.
    def _bounds(n: int, k: int) -> np.ndarray:
        q, r = divmod(n, k)
        return np.cumsum([0] + [q + 1] * r + [q] * (k - r))

    g = np.asarray(gray, dtype=np.float64)
    ri = _bounds(g.shape[0], DHASH_H)
    ci = _bounds(g.shape[1], DHASH_W + 1)
    row_sums = np.add.reduceat(g, ri[:-1], axis=0)
    cell_sums = np.add.reduceat(row_sums, ci[:-1], axis=1)
    cells = cell_sums / np.outer(np.diff(ri), np.diff(ci))
    bits_mat = cells[:, :DHASH_W] < cells[:, 1 : DHASH_W + 1]
    return int.from_bytes(np.packbits(bits_mat.ravel()).tobytes(), "big")


def dhash_assets(assets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual (difference) hash per binary image payload — the
    image-side analog of the text content hash: visually-identical
    images collide regardless of byte-level differences in headers or
    encoding. Narrow Arrow mapInPandas, no shuffle; payloads without a
    supported decoder hash their raw bytes through the same block
    pipeline (deterministic, labeled by the fmt column from the
    decode dispatch).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, fmts = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                gray, fmt = decode_gray_pixels(b)
                if gray is None:
                    # opaque fallback: bytes as a 1-row image
                    arr = np.frombuffer(b, dtype=np.uint8).astype(np.float64)
                    gray = arr.reshape(1, -1) if arr.size else np.zeros((1, 9))
                    fmt = "opaque"
                # pad degenerate widths so 9 column-blocks exist
                if gray.shape[1] < 9:
                    gray = np.pad(gray, ((0, 0), (0, 9 - gray.shape[1])))
                ids.append(doc_id)
                hashes.append(format(_dhash_bits(gray), "016x"))
                fmts.append(fmt)
            yield pd.DataFrame(
                {id_col: ids, "phash": hashes, "fmt": fmts}
            )

    # the output id column is NAMED id_col (not hardcoded doc_id) so a
    # caller passing a custom id keeps working downstream (r12 ADVICE)
    return assets.select(id_col, "payload").mapInPandas(
        kernel, schema=f"{id_col} long, phash string, fmt string"
    )


def _phash_band(col, b: int):
    """16-bit band b (0..3) of a 16-hex-char phash, as int."""
    return F.conv(F.substring(col, b * 4 + 1, 4), 16, 10).cast("int")


def phash_hamming(a, b):
    """Exact 64-bit hamming distance between two hex phash columns,
    computed bandwise (4 x 16-bit xor + bit_count) so no value ever
    leaves signed-long range. Pure codegen, row-local."""
    d = F.lit(0)
    for i in range(4):
        d = d + F.bit_count(_phash_band(a, i).bitwiseXOR(_phash_band(b, i)))
    return d


def phash_band_neardup(
    hashed: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Image NEAR-dup keeper assignment at hamming distance <= k over
    64-bit perceptual hashes — the upgrade of exact-equality phash
    grouping (r7 verdict missing #2): crops/re-encodes that flip a few
    gradient bits still collapse.

    Pigeonhole banding: the hash splits into 4 x 16-bit bands; any pair
    at hamming <= 3 is identical in at least one band, so an equi-join
    on (band, band_value) finds every such pair with zero false
    negatives at k <= 3 (at k > 3 the screen is best-effort, standard
    LSH behavior). The dataflow mirrors minhash_dedup_assign — per-
    bucket MIN doc id (hash agg), per-doc MIN of its bucket mins,
    verify ONLY the doc->candidate pair with the exact bandwise
    hamming — so no within-bucket pair set is ever materialized: a
    corpus of near-identical thumbnails (one hot bucket) stays linear.
    Like the minhash assign path, chains longer than one hop may split
    (A~B~C with A!~C verifies B->A but C may stay self-kept); the
    planted-pair recall gate in tests covers the pairwise contract.

    Input: (id_col, phash) with phash = 16 lowercase hex chars
    (dhash_assets output). Output: (id_col, keeper_doc_id, hamming) —
    keeper == self with hamming 0 when no near-neighbor verifies.

    r15 (guide §5 cache-when-reused): `hashed` is consumed by THREE
    structural branches (the band explode feeding bucket_min and the
    candidate join, plus the keeper-hash verify side). Every caller
    derives it from Python decode/hash kernels (MapInPandas), so an
    unmaterialized input re-ran the whole decode chain once per branch
    — the x10 video near-dup plan carried the 2-kernel MJPEG chain 3x
    (6 MapInPandas nodes), ~570 summed python-CPU-seconds for ~190 of
    real work. One EAGER localCheckpoint of the tiny (id, phash)
    projection decodes once; eager, not lazy, per the r15 measured
    rule — these consumers execute as CONCURRENT stages of the
    terminal action, exactly the fan-out case where the lazy mark
    regressed (OPTIMIZATION_r15.md change 3).
    """
    hashed = hashed.select(id_col, "phash").localCheckpoint(eager=True)
    bands = hashed.select(
        id_col,
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _phash_band(F.col("phash"), b).alias("bval"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "phash", "bb.band", "bb.bval")
    bucket_min = bands.groupBy("band", "bval").agg(
        F.min(id_col).alias("__bucket_keeper")
    )
    cand = (
        bands.join(bucket_min, ["band", "bval"])
        .groupBy(id_col, "phash")
        .agg(F.min("__bucket_keeper").alias("__cand"))
    )
    keeper_hash = hashed.select(
        F.col(id_col).alias("__cand"), F.col("phash").alias("__cand_phash")
    )
    ham = phash_hamming(F.col("phash"), F.col("__cand_phash"))
    return (
        cand.join(keeper_hash, "__cand")
        .select(
            F.col(id_col),
            F.when((ham <= PAIR_HAMMING_K) & (F.col("__cand") != F.col(id_col)), F.col("__cand"))
            .otherwise(F.col(id_col))
            .cast("long")
            .alias("keeper_doc_id"),
            F.when((ham <= PAIR_HAMMING_K) & (F.col("__cand") != F.col(id_col)), ham)
            .otherwise(F.lit(0))
            .cast("int")
            .alias("hamming"),
        )
    )


# --- audio: RIFF/WAV PCM codec (the image family's audio sibling) ----
#
# WAV is the natural "baseline codec" for audio the way netpbm is for
# images: a RIFF container (chunk walk) around raw PCM samples. The
# encoder synthesizes a deterministic mono PCM16 payload from document
# text (consecutive byte pairs little-endian, the same
# fixture-generation move as encode_ppm's pixel plane), and the
# decoder is a REAL RIFF parser — chunk-id walk with even-padding,
# fmt validation, fail-stop on truncation / non-PCM — so any external
# WAV tool (or the stdlib `wave` module, which pytest uses as the
# known-answer oracle) reads what we write and vice versa.


def encode_wav_bytes(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal canonical RIFF/WAVE writer: fmt (PCM, mono, 16-bit) +
    data. `samples` is int16."""
    import struct

    pcm = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * 2
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes) -> dict:
    """Parse a RIFF/WAVE byte string: walk chunks (word-aligned, as the
    spec requires), validate a PCM16 mono/stereo fmt, return samples +
    format fields. Fail-stop (ValueError) on bad magic, truncated
    chunks, missing fmt/data, or non-PCM encodings — the E3 missing-
    payload discipline (reference src/follower.rs:128) applied to a
    media format."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    declared = struct.unpack("<I", data[4:8])[0]
    if declared + 8 > len(data):
        raise ValueError("RIFF size exceeds payload (truncated)")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _, block_align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported encoding (fmt={audio_format}, bits={bits})")
    if n_channels not in (1, 2) or block_align != 2 * n_channels:
        raise ValueError("unsupported channel layout")
    samples = np.frombuffer(pcm[: len(pcm) - len(pcm) % 2], dtype="<i2")
    return {
        "sample_rate": int(sample_rate),
        "n_channels": int(n_channels),
        "bits": int(bits),
        "samples": samples,
    }


SAMPLE_RATE = 8000


def encode_wav(docs: DataFrame) -> DataFrame:
    """Audio twin of encode_ppm: each document's UTF-8 bytes become a
    mono PCM16 WAV (consecutive byte pairs little-endian; odd tails
    dropped; empty text yields one zero sample). Deterministic, so a
    decode query's stats can be restated from the source text by a
    SQL oracle.

    ASCII-ONLY by contract (fail-stop, r10 ADVICE item 1): the
    spectrogram/fingerprint oracles restate sample values via SQL
    ``ascii()`` over CHARACTERS, which agrees with this byte-pair
    packing only while every byte is < 128 — a byte >= 128 would also
    wrap negative through the int16 cast here while ``ascii()`` stays
    unsigned, silently desyncing kernel from oracle. Non-ASCII text
    raises, mirroring decode_wav's fail-stop discipline."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(text: str) -> bytes:
            raw = text.encode("utf-8")
            if max(raw, default=0) >= 128:
                raise ValueError(
                    "encode_wav is ASCII-only by contract: byte >= 128 "
                    "would desync the int16 packing from the oracles' "
                    "unsigned ascii() restatement"
                )
            n = len(raw) // 2
            if n == 0:
                samples = np.zeros(1, dtype="<i2")
            else:
                samples = (
                    np.frombuffer(raw[: 2 * n], dtype=np.uint8)
                    .reshape(n, 2)
                    .astype(np.int32)
                )
                samples = (samples[:, 0] + samples[:, 1] * 256).astype("<i2")
            return encode_wav_bytes(samples, SAMPLE_RATE)

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf[ID_COL], "payload": pdf[TEXT_COL].map(one)}
            )

    out = _fan_out_small(docs.select(ID_COL, TEXT_COL)).mapInPandas(
        encode, schema="doc_id long, payload binary"
    )
    return out.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_wav_assets(assets: DataFrame) -> DataFrame:
    """Decode WAV payloads to per-asset audio stats: sample counts and
    format fields plus energy (sum of squared samples) and peak — all
    INTEGERS, so a decode query over a deterministic corpus is exact
    cross-engine. Narrow Arrow kernel: binary in, 6 scalar columns
    out, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[ID_COL], pdf["payload"]):
                d = decode_wav(bytes(payload))
                s = d["samples"].astype(np.int64)
                rows.append(
                    (
                        did,
                        d["sample_rate"],
                        d["n_channels"],
                        len(s),
                        int((s * s).sum()),
                        int(np.abs(s).max()) if len(s) else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_channels",
                    "n_samples", "sum_sq", "peak",
                ],
            )

    return assets.select(ID_COL, "payload").mapInPandas(
        kernel,
        schema=(
            "doc_id long, sample_rate long, n_channels long, "
            "n_samples long, sum_sq long, peak long"
        ),
    )


# --- audio features: fixed-point DFT band energies (r9 verdict item 7)
#
# The analysis half of the WAV leg, the way PNG/JPEG got real decoders:
# a windowed spectrogram whose band energies are EXACT cross-engine.
# Transcendental trig would leak FP environment into the result, so the
# DFT coefficients are FIXED-POINT integers, generated ONCE here and
# embedded verbatim in both the numpy kernel and the DuckDB oracle (the
# generated-oracle discipline): every window's re/im parts are integer
# dot products, energies are integer squares, and the per-band totals
# are integer sums — hash-exact by construction. Integer Goertzel would
# compute the same bins in O(N) per bin; the direct form keeps the
# oracle a plain SUM(c * table[p]) restatement.

SPEC_WINDOW = 16  # samples per analysis window (non-overlapping)
SPEC_BANDS = (1, 2, 3, 4)  # DFT bins analyzed (of 0..8 for N=16 real input)
SPEC_SCALE = 1000  # fixed-point coefficient scale
SPEC_ENERGY_SHIFT = 1024  # energies are divided (floor) by this pre-sum

import math as _math  # noqa: E402

SPEC_COS = {
    k: [
        int(round(_math.cos(2.0 * _math.pi * k * p / SPEC_WINDOW) * SPEC_SCALE))
        for p in range(SPEC_WINDOW)
    ]
    for k in SPEC_BANDS
}
SPEC_SIN = {
    k: [
        int(round(_math.sin(2.0 * _math.pi * k * p / SPEC_WINDOW) * SPEC_SCALE))
        for p in range(SPEC_WINDOW)
    ]
    for k in SPEC_BANDS
}
# overflow audit (all int64-safe): |re| <= 16 * 32767 * 1000 ~= 5.2e8;
# re^2 + im^2 <= 5.5e17; windows per doc <= ~1k chars/32 -> after the
# /1024 floor the per-band total stays < 2^62 for any corpus document.


def spectrogram_band_energies(samples) -> dict:
    """Fixed-point DFT band energies of one int16 sample stream:
    windows of SPEC_WINDOW (last window may be partial), per window
    e_k = (re_k^2 + im_k^2) // SPEC_ENERGY_SHIFT with integer
    re/im = dot(window, table), summed per band. Pure int64.

    r14 (guide §4.2): vectorized — the former per-window / per-band
    Python loop allocated two tiny numpy arrays and two dots per
    (window, band); one zero-padded reshape + two int64 matmuls
    computes every window of every band at once. Zero-padding the
    partial tail window is EXACT: coefficient * 0 contributes nothing,
    identical to the truncated-table dot; all arithmetic stays int64
    (numpy integer matmul is exact, no FP)."""
    s = np.asarray(samples, dtype=np.int64)
    n_windows = max(1, (len(s) + SPEC_WINDOW - 1) // SPEC_WINDOW)
    if len(s) == 0:
        return {"n_windows": n_windows, "energies": {k: 0 for k in SPEC_BANDS}}
    pad = n_windows * SPEC_WINDOW - len(s)
    W = np.concatenate([s, np.zeros(pad, dtype=np.int64)]).reshape(
        n_windows, SPEC_WINDOW
    )
    C = np.array([SPEC_COS[k] for k in SPEC_BANDS], dtype=np.int64).T
    Sn = np.array([SPEC_SIN[k] for k in SPEC_BANDS], dtype=np.int64).T
    re = W @ C
    im = W @ Sn
    e = (re * re + im * im) // SPEC_ENERGY_SHIFT
    tot = e.sum(axis=0)
    return {
        "n_windows": n_windows,
        "energies": {k: int(tot[j]) for j, k in enumerate(SPEC_BANDS)},
    }


def audio_spectrogram_assets(assets: DataFrame) -> DataFrame:
    """Decode WAV payloads through the REAL RIFF parser, then extract
    fixed-point spectrogram band energies — one narrow Arrow kernel
    (binary in, 6 integer columns out, no shuffle)."""
    band_cols = [f"band{k}_energy" for k in SPEC_BANDS]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[ID_COL], pdf["payload"]):
                d = decode_wav(bytes(payload))
                sp = spectrogram_band_energies(d["samples"])
                rows.append(
                    (did, sp["n_windows"])
                    + tuple(sp["energies"][k] for k in SPEC_BANDS)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_windows"] + band_cols
            )

    schema = "doc_id long, n_windows long, " + ", ".join(
        f"{c} long" for c in band_cols
    )
    return assets.select(ID_COL, "payload").mapInPandas(kernel, schema=schema)


# --- audio fingerprint: band-energy-difference bits (Haitsma-Kalker
#     2002 shape) over the fixed-point spectrogram --------------------
#
# The audio sibling of the dHash image fingerprint: a robust compact
# signature from SIGNS of spectral energy differences across time and
# frequency — bit(t, k) = 1 iff the band-k energy delta from window
# t-1 to t exceeds the band-(k+1) delta. Pure integer comparisons over
# the integer-DFT energies, so the signature is hash-exact
# cross-engine; near-dup matching bands the bits pigeonhole-style like
# multimodal_phash_neardup.

SIG_TRANSITIONS = 5  # window transitions fingerprinted (windows 0..5)
SIG_BAND_PAIRS = [(1, 2), (2, 3), (3, 4)]  # adjacent analyzed bins
SIG_BITS = SIG_TRANSITIONS * len(SIG_BAND_PAIRS)  # 15


def audio_fingerprint(samples) -> tuple:
    """(n_windows, sig): 15 sign bits of time/frequency energy
    differences over the first SIG_TRANSITIONS+1 windows; windows past
    the stream's end contribute zero energies (short docs still
    fingerprint deterministically)."""
    s = np.asarray(samples, dtype=np.int64)
    n_windows = max(1, (len(s) + SPEC_WINDOW - 1) // SPEC_WINDOW)
    # energies per (window, band) for windows 0..SIG_TRANSITIONS — r14:
    # vectorized like spectrogram_band_energies (zero-pad is exact,
    # windows past the stream's end stay all-zero -> energy 0).
    need = (SIG_TRANSITIONS + 1) * SPEC_WINDOW
    buf = np.zeros(need, dtype=np.int64)
    m = min(len(s), need)
    buf[:m] = s[:m]
    W = buf.reshape(SIG_TRANSITIONS + 1, SPEC_WINDOW)
    C = np.array([SPEC_COS[k] for k in SPEC_BANDS], dtype=np.int64).T
    Sn = np.array([SPEC_SIN[k] for k in SPEC_BANDS], dtype=np.int64).T
    re = W @ C
    im = W @ Sn
    ew = (re * re + im * im) // SPEC_ENERGY_SHIFT  # (windows, bands)
    e = {k: [int(ew[w, j]) for w in range(SIG_TRANSITIONS + 1)]
         for j, k in enumerate(SPEC_BANDS)}
    sig = 0
    bit = 0
    for t in range(1, SIG_TRANSITIONS + 1):
        for ka, kb in SIG_BAND_PAIRS:
            if (e[ka][t] - e[ka][t - 1]) > (e[kb][t] - e[kb][t - 1]):
                sig |= 1 << bit
            bit += 1
    return (n_windows, sig)


def audio_fingerprint_assets(assets: DataFrame) -> DataFrame:
    """Decode WAV payloads and fingerprint — one narrow Arrow kernel."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[ID_COL], pdf["payload"]):
                d = decode_wav(bytes(payload))
                nw, sig = audio_fingerprint(d["samples"])
                rows.append((did, nw, sig))
            yield pd.DataFrame(rows, columns=["doc_id", "n_windows", "sig"])

    return assets.select(ID_COL, "payload").mapInPandas(
        kernel, schema="doc_id long, n_windows long, sig long"
    )


AUDIO_MAX_HAMMING = 2


def audio_fingerprint_neardup(fps: DataFrame) -> DataFrame:
    """Near-duplicate audio pairs by banded hamming join (the
    multimodal_phash_neardup recipe on the 15-bit signature): split
    the signature into 3 five-bit bands — two signatures within
    hamming `AUDIO_MAX_HAMMING` (< 3 bands) MUST agree on some band
    (pigeonhole), so candidate generation is an equi-join on
    (band_idx, band_value), never all-pairs; exact hamming verifies.
    Returns (doc_a, doc_b, hamming), doc_a < doc_b."""
    bands = []
    for b in range(3):
        bands.append(
            fps.select(
                F.col(ID_COL).alias("id"),
                "sig",
                F.lit(b).alias("band"),
                F.shiftright("sig", b * 5).bitwiseAND(F.lit(31)).alias("bval"),
            )
        )
    banded = bands[0].unionByName(bands[1]).unionByName(bands[2])
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= AUDIO_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# --- video: RIFF/AVI container, raw-DIB + MJPEG frames (r10 verdict
# item 4 — the last absent modality) ---------------------------------
#
# AVI is RIFF like WAV, so the decoder is the decode_wav chunk walker
# generalized to nested LISTs; frames are either '00db' uncompressed
# DIB (BGR24 bottom-up, rows padded to 4 bytes — LOSSLESS, so frame
# stats restate exactly from the source text, the encode_ppm move) or
# '00dc' MJPEG (operators/jpeg.py baseline JFIF per frame — lossy, so
# perceptual-hash paths own it). Fail-stop discipline throughout: bad
# magic, truncated chunks, missing hdrl/movi, multi-stream files, and
# unsupported compression all raise.


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(body) % 2 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _riff_list(ltype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + body)


def encode_avi_bytes(
    frames: list[np.ndarray], codec: str = "raw"
) -> bytes:
    """Minimal canonical RIFF/AVI writer: hdrl (avih + one vids strl) +
    movi. ``frames`` are (h, w) uint8 grayscale planes, all the same
    shape. codec='raw' stores each plane as an uncompressed BGR24 DIB
    ('00db', gray replicated to all channels, bottom-up rows padded to
    4 bytes); codec='mjpeg' JPEG-encodes each plane ('00dc', fourcc
    MJPG)."""
    import struct

    from . import jpeg as jpeg_codec

    if not frames:
        raise ValueError("empty frame list")
    h, w = frames[0].shape
    if any(f.shape != (h, w) for f in frames):
        raise ValueError("frames differ in shape")
    if codec == "raw":
        handler, compression = b"\x00" * 4, 0
        row_bytes = (w * 3 + 3) // 4 * 4
        payloads = []
        for f in frames:
            bgr = np.repeat(f.astype(np.uint8)[:, :, None], 3, axis=2)
            rows = np.zeros((h, row_bytes), dtype=np.uint8)
            rows[:, : w * 3] = bgr.reshape(h, w * 3)
            payloads.append(rows[::-1].tobytes())  # bottom-up
        fcc = b"00db"
    elif codec == "mjpeg":
        handler, compression = b"MJPG", struct.unpack("<I", b"MJPG")[0]
        payloads = [jpeg_codec.encode_jpeg_bytes(f) for f in frames]
        fcc = b"00dc"
    else:
        raise ValueError(f"unsupported codec {codec!r}")
    max_bytes = max(len(p) for p in payloads)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // VIDEO_FPS,  # us per frame
        max_bytes * VIDEO_FPS,   # max bytes/sec
        0, 0,              # padding; flags 0 — no idx1 is written, so
        #                    AVIF_HASINDEX (0x10) must NOT be claimed
        #                    (review find: a strict demuxer would seek a
        #                    missing index)
        len(frames), 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", handler, 0, 0, 0, 0,
        1, VIDEO_FPS,            # scale, rate -> fps frames/sec
        0, len(frames), max_bytes, 0, -1, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression,
        max_bytes, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", b"".join(_riff_chunk(fcc, p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_walk_list(data: bytes, pos: int, end: int):
    """Yield (chunk_id, list_type_or_None, body_lo, body_hi) for each
    chunk in [pos, end); fail-stop on truncation."""
    import struct

    while pos + 8 <= end:
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        lo, hi = pos + 8, pos + 8 + size
        if hi > end:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"LIST":
            if size < 4:
                raise ValueError("LIST chunk too short")
            yield cid, data[lo : lo + 4], lo + 4, hi
        else:
            yield cid, None, lo, hi
        pos = hi + (size % 2)  # word-aligned


def decode_avi(data: bytes) -> dict:
    """Parse a RIFF/AVI byte string: nested chunk walk (word-aligned),
    validate the single-video-stream header, decode every frame chunk
    to a grayscale uint8 plane (raw BGR24 DIBs channel-averaged; MJPG
    via the baseline JPEG decoder). Fail-stop (ValueError) on bad
    magic, truncation, missing hdrl/movi, multiple streams, or a
    compression this walker does not speak — the decode_wav / E3
    missing-payload discipline."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    declared = struct.unpack("<I", data[4:8])[0]
    if declared + 8 > len(data):
        raise ValueError("RIFF size exceeds payload (truncated)")
    avih = None
    strh = strf = None
    frame_chunks: list[tuple[int, int]] = []
    def _unpack(fmt: str, lo: int, hi: int, what: str):
        # validate the chunk's DECLARED size before unpacking: a short
        # header chunk must raise, not silently read the next chunk's
        # bytes as header fields (review find; struct.error at buffer
        # end is also not the documented ValueError).
        need = struct.calcsize(fmt)
        if hi - lo < need:
            raise ValueError(f"{what} chunk too short ({hi - lo} < {need})")
        return struct.unpack(fmt, data[lo : lo + need])

    for cid, ltype, lo, hi in _avi_walk_list(data, 12, declared + 8):
        if cid == b"LIST" and ltype == b"hdrl":
            for c2, l2, lo2, hi2 in _avi_walk_list(data, lo, hi):
                if c2 == b"avih":
                    avih = _unpack("<IIIIIIIIII", lo2, hi2, "avih")
                elif c2 == b"LIST" and l2 == b"strl":
                    if strh is not None:
                        raise ValueError("multiple streams unsupported")
                    for c3, _l3, lo3, hi3 in _avi_walk_list(data, lo2, hi2):
                        if c3 == b"strh":
                            strh = _unpack("<4s4sIHHIIIIIIIi4H", lo3, hi3, "strh")
                        elif c3 == b"strf":
                            strf = _unpack("<IiiHHIIiiII", lo3, hi3, "strf")
        elif cid == b"LIST" and ltype == b"movi":
            for c2, _l2, lo2, hi2 in _avi_walk_list(data, lo, hi):
                if c2 in (b"00db", b"00dc"):
                    frame_chunks.append((lo2, hi2))
    if avih is None or strh is None or strf is None:
        raise ValueError("missing avih/strh/strf header")
    if not frame_chunks:
        raise ValueError("missing movi frame data")
    if strh[0] != b"vids":
        raise ValueError(f"unsupported stream type {strh[0]!r}")
    w, h = avih[8], avih[9]
    compression = strf[5]
    scale, rate = strh[6], strh[7]
    fps = rate / scale if scale else 0.0
    frames = []
    if compression == 0:
        row_bytes = (w * 3 + 3) // 4 * 4
        for lo, hi in frame_chunks:
            raw = np.frombuffer(data[lo:hi], dtype=np.uint8)
            if raw.size != h * row_bytes:
                raise ValueError("DIB frame size mismatch")
            rows = raw.reshape(h, row_bytes)[::-1]  # bottom-up -> top-down
            bgr = rows[:, : w * 3].reshape(h, w, 3).astype(np.float64)
            frames.append(bgr.mean(axis=2).round().astype(np.uint8))
    elif strf[5] == struct.unpack("<I", b"MJPG")[0]:
        from . import jpeg as jpeg_codec

        for lo, hi in frame_chunks:
            d = jpeg_codec.decode_jpeg(data[lo:hi])
            px = np.asarray(d["pixels"], dtype=np.float64)
            gray = px.mean(axis=2) if px.ndim == 3 else px
            frames.append(np.clip(gray.round(), 0, 255).astype(np.uint8))
    else:
        raise ValueError(f"unsupported biCompression 0x{compression:08x}")
    if len(frames) != avih[4]:
        raise ValueError(
            f"frame count mismatch (header {avih[4]}, movi {len(frames)})"
        )
    return {
        "width": int(w),
        "height": int(h),
        "fps": float(fps),
        "n_frames": len(frames),
        "frames": frames,
    }


#: raw-codec video geometry shared by encode_video/decode queries AND
#: the SQL oracle generator (one constant set, zero drift).
VIDEO_W, VIDEO_H = 16, 12
VIDEO_FRAME_PX = VIDEO_W * VIDEO_H


VIDEO_FPS = 8


def encode_video(docs: DataFrame, codec: str = "raw") -> DataFrame:
    """Video twin of encode_ppm/encode_wav: each document's bytes
    become the gray pixel stream of a VIDEO_W x VIDEO_H frame sequence
    (frame f = byte slice [f*192, (f+1)*192), zero-padded tail), in a
    real AVI container. ASCII-ONLY by contract for the same reason as
    encode_wav: the frame-stat oracles restate pixel values via SQL
    ascii() over characters, which equals the byte stream only below
    128 — non-ASCII raises rather than desyncing kernel from oracle."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(text: str) -> bytes:
            raw = text.encode("utf-8")
            if max(raw, default=0) >= 128:
                raise ValueError(
                    "encode_video is ASCII-only by contract (oracle "
                    "restates pixels via unsigned ascii())"
                )
            n_frames = max(1, -(-len(raw) // VIDEO_FRAME_PX))
            plane = np.zeros(n_frames * VIDEO_FRAME_PX, dtype=np.uint8)
            plane[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
            frames = [
                plane[f * VIDEO_FRAME_PX : (f + 1) * VIDEO_FRAME_PX].reshape(
                    VIDEO_H, VIDEO_W
                )
                for f in range(n_frames)
            ]
            return encode_avi_bytes(frames, codec=codec)

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf[ID_COL], "payload": pdf[TEXT_COL].map(one)}
            )

    out = _fan_out_small(docs.select(ID_COL, TEXT_COL)).mapInPandas(
        encode, schema="doc_id long, payload binary"
    )
    return out.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("video/x-msvideo").alias("mime"),
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_video_frames(assets: DataFrame) -> DataFrame:
    """Decode AVI payloads and explode every frame into
    per-frame integer stats (pixel sum / max over the gray plane) —
    all INTEGERS, so a raw-codec corpus restates exactly from source
    text. Narrow Arrow kernel: binary in, scalar rows out, no
    shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[ID_COL], pdf["payload"]):
                d = decode_avi(bytes(payload))
                for fi in range(d["n_frames"]):
                    plane = d["frames"][fi].astype(np.int64)
                    rows.append(
                        (did, fi, d["width"], d["height"],
                         int(plane.sum()), int(plane.max()))
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height",
                         "pix_sum", "pix_max"],
            )

    return assets.select(ID_COL, "payload").mapInPandas(
        kernel,
        schema="doc_id long, frame_idx long, width long, height long, "
               "pix_sum long, pix_max long",
    )


def video_frame_dhash(assets: DataFrame) -> DataFrame:
    """Per-frame perceptual hash: decode AVI, dHash every frame
    (the image dedup pipeline's front end applied
    to video). Narrow Arrow kernel, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[ID_COL], pdf["payload"]):
                d = decode_avi(bytes(payload))
                for fi in range(d["n_frames"]):
                    gray = d["frames"][fi].astype(np.float64)
                    rows.append(
                        (did, fi, format(_dhash_bits(gray), "016x"))
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "phash"])

    return assets.select(ID_COL, "payload").mapInPandas(
        kernel, schema="doc_id long, frame_idx long, phash string"
    )


KEYFRAME_MIN_DELTA = 1000


def video_keyframes(assets: DataFrame) -> DataFrame:
    """Shot-boundary / keyframe detection: per frame, the temporal
    delta energy (sum of absolute per-pixel differences from the
    previous frame; frame 0 diffs against black, so its delta is its
    own energy) and the keyframe flag ``delta_energy >= KEYFRAME_MIN_DELTA`` —
    the classic pixel-difference scene-cut detector. All INTEGER, all
    inside one narrow Arrow kernel (the previous frame is adjacent in
    the same payload — no self-join, no window shuffle), so a raw-codec
    corpus restates exactly from source text."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[ID_COL], pdf["payload"]):
                d = decode_avi(bytes(payload))
                prev = np.zeros_like(d["frames"][0], dtype=np.int64)
                for fi, frame in enumerate(d["frames"]):
                    cur = frame.astype(np.int64)
                    delta = int(np.abs(cur - prev).sum())
                    rows.append((did, fi, delta, delta >= KEYFRAME_MIN_DELTA))
                    prev = cur
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "delta_energy", "is_keyframe"],
            )

    return assets.select(ID_COL, "payload").mapInPandas(
        kernel,
        schema="doc_id long, frame_idx long, delta_energy long, "
               "is_keyframe boolean",
    )


# ---------------------------------------------------------------------------
# Cross-modal (image, caption) pair dedup — r11 verdict item 6, the
# LAION curation shape.


PAIR_HAMMING_K = 3
CAPTION_COL = "caption"


def pair_dedup(pairs: DataFrame, max_captions: int = 2, id_col: str = "doc_id") -> DataFrame:
    """Joint keeper policy over (image, caption) pairs — the dedup an
    image-text corpus runs before CLIP-style training (the LAION
    pipeline shape): the SAME image recrawled under different captions
    must not flood the corpus, and byte-different near-identical images
    (re-encodes, crops) count as the same image.

    Composition of two existing primitives, nothing new to trust:
    images cluster in two stages — EXACT phash grouping first (byte-
    identical recrawls always land together, and the distinct-hash
    representative set is what near-dup banding then reconciles), then
    dhash band near-dup (phash_band_neardup: pigeonhole bands, exact
    hamming <= PAIR_HAMMING_K verify, per-bucket min-id keeper) over the
    REPRESENTATIVES only. Running the banding on representatives
    instead of members both shrinks the banded join input (a viral
    image is one row, not millions) and removes the one-candidate
    split an interfering hot bucket could force between byte-identical
    members. Captions hash row-locally (xxhash64 — engine-side 8-byte
    keys, the text_dedup shuffle-width discipline).

    Keeper policy, two levels inside each image cluster (the
    ``pair_keeper_policy`` stage below — shared verbatim with the
    SQL-portable twin query so the policy layer carries a driver-exact
    verdict even though dHash itself is not SQL-statable):
    1. strict dups (same image cluster AND same caption hash) collapse
       to the min id — re-downloads of the same pair;
    2. caption VARIANTS rank by first appearance (min id per caption,
       ties broken by the hash) and at most ``max_captions`` survive —
       keeps some caption diversity per image (LAION keeps one; CLIP
       data work keeps a few for augmentation) without letting one
       viral image contribute thousands of pairs.

    Returns one row per distinct (image cluster, caption): the
    cluster's keeper image id, the caption's min pair id, the group's
    total pair count ``n_pairs`` (INCLUDING the keeper — n_pairs - 1
    strict duplicates were dropped), its rank among the cluster's
    captions, and whether it survives the cap.

    Scale shape: decode+hash are narrow Arrow kernels; the cluster
    assignment is the banded equi-join; then ONE hash agg on
    (cluster, caption_hash) — partials collapse map-side, so a hot
    image cluster ships one row per caption per partition — and a
    window over clusters whose row count is the cluster's DISTINCT
    caption count, not its pair count.
    """
    # r15 (guide §5, same fan-out as phash_band_neardup): `hashed` is
    # the Python decode+dhash chain and feeds BOTH the representative
    # agg and the members join — unmaterialized, the chain ran once
    # per branch. Eager checkpoint of the (id, phash) projection
    # decodes once (concurrent consumers, so eager per the change-3
    # rule).
    hashed = dhash_assets(pairs, id_col=id_col).select(
        id_col, "phash"
    ).localCheckpoint(eager=True)
    reps = hashed.groupBy("phash").agg(F.min(id_col).alias("__rep_id"))
    assign = phash_band_neardup(
        reps.select(F.col("__rep_id").alias(id_col), "phash"), id_col=id_col,
    ).select(F.col(id_col).alias("__rep_id"), "keeper_doc_id")
    members = hashed.join(reps, "phash").join(
        assign, "__rep_id"
    )
    joined = pairs.select(
        id_col, F.xxhash64(F.col(CAPTION_COL)).alias("caption_hash")
    ).join(members.select(id_col, "keeper_doc_id"), id_col)
    return pair_keeper_policy(joined, max_captions=max_captions,
                              id_col=id_col)


CLUSTER_COL = "keeper_doc_id"


def pair_keeper_policy(
    joined: DataFrame,
    max_captions: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """The two-level (image cluster, caption) keeper policy of
    ``pair_dedup``, split out so the SQL-portable twin
    (queries/llm_ops.py multimodal_pair_dedup_portable) drives the SAME
    code path over deterministic integer ids — the portable-twin
    discipline that gave every ANN family a driver-exact verdict.

    Input: one row per (pair id, image cluster id, caption hash).
    Output: one row per distinct (cluster, caption) with the min pair
    id as keeper, the group's total pair count ``n_pairs`` (INCLUDING
    the keeper — n_pairs - 1 strict duplicates were dropped), the
    caption's first-appearance rank within its cluster, and the
    ``max_captions`` survival flag.

    Scale shape: ONE hash agg on (cluster, caption_hash) — map-side
    partials absorb a hot viral image — plus a window whose partition
    row count is the cluster's DISTINCT caption count, not its pair
    count."""
    from pyspark.sql import Window as W

    per_caption = joined.groupBy(
        F.col(CLUSTER_COL).alias("image_keeper"), "caption_hash"
    ).agg(
        F.min(id_col).alias("pair_keeper"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    w = W.partitionBy("image_keeper").orderBy("pair_keeper", "caption_hash")
    return per_caption.withColumn(
        "caption_rank", F.row_number().over(w)
    ).withColumn("is_kept", F.col("caption_rank") <= max_captions)
