"""Multimodal column plumbing: media as opaque binary columns with typed
metadata, processed by Arrow-batched `mapInPandas` stages.

Decode status (no imaging libraries in this environment):
- PNG payloads decode for real via the pure-numpy reader in
  functions/atlas.py (zlib inflate + scanline unfilter), the same reader the
  texture atlas uses.
- Baseline JFIF JPEG payloads decode for real via functions/jpeg.py
  (Huffman + dequant + IDCT + 4:2:0 upsampling, restart markers).
- Still lossless WebP (VP8L) payloads decode for real via functions/webp.py.
- Every other format (lossy or animated WebP, BMP, ICO, GIF, TIFF, AVIF,
  audio, video, ...) is unsupported: `decode_image_real` raises NotImplementedError and
  `decode_pixels` falls back to the deterministic `decode_pixels_stub`.
- `extract_features` hashes every payload through `decode_image_stub`.
  The stubs keep the Spark-side plumbing — schema, partition sizing, UDF
  signatures, Arrow batch shape — real and tested; wiring a codec library
  in is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("mime", T.StringType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 32

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"


def decode_image_real(payload: bytes) -> np.ndarray:
    """Real decode: payload → HxWx3 uint8 array, dispatched on the magic.

    - PNG (RGBA8, filters 0-4): functions/atlas.py::decode_png, alpha dropped.
    - Baseline sequential JPEG: functions/jpeg.py::decode_jpeg.
    - Still lossless WebP (VP8L): functions/webp.py::decode_webp, alpha
      dropped.

    A recognised magic with a stream the reader refuses (progressive JPEG,
    lossy or animated WebP, corrupt data) raises ValueError. Any other format
    (BMP, ICO, GIF, TIFF, ...) raises NotImplementedError — wire
    Pillow/libvips here on a real cluster."""
    data = bytes(payload)
    if data[:8] == PNG_MAGIC:
        from ..functions.atlas import decode_png

        return decode_png(data)[..., :3]
    if data[:3] == JPEG_MAGIC:
        from ..functions.jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from ..functions.webp import decode_webp

        return decode_webp(data)[..., :3]
    raise NotImplementedError(
        "only PNG, baseline JPEG and lossless WebP decode in-sandbox "
        "(pure-numpy readers); other formats need an imaging library — "
        "use decode_image_stub for plumbing tests"
    )


def decode_image_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake feature extraction: sha256 of the bytes expanded to a
    FEATURE_DIM float vector in [0, 1). Stable across platforms/runs."""
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer((digest * ((FEATURE_DIM * 4) // len(digest) + 1))[: FEATURE_DIM * 4], dtype=np.uint32)
    return (raw % 10_000).astype(np.float32) / 10_000.0


def extract_features(media: DataFrame) -> DataFrame:
    """media(media_id, kind, payload, meta) → per-item feature vectors. One Arrow
    stage; batches arrive as pandas with payload as bytes objects."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image_stub(p).tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _extract, schema=FEATURES_SCHEMA
    )


def make_media_fixture(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for plumbing tests."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = (f"media-{i}-".encode() * 7)[: 64 + (i % 32)]
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                (64 + i, 48 + i, f"{kind}/x-test", 5000 if kind == "video" else None),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_png_media_fixture(spark, n: int = 16) -> DataFrame:
    """Media table whose image payloads are REAL PNG bitstreams (deterministic
    gradient patterns, encoded by the repo's own PNG writer) — exercises the
    real in-sandbox decode path end to end."""
    from ..functions.atlas import encode_png

    rows = []
    for i in range(n):
        w, h = 8 + (i % 5) * 4, 6 + (i % 4) * 4
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.empty((h, w, 4), dtype=np.uint8)
        img[..., 0] = (xx * 7 + i * 13) % 256
        img[..., 1] = (yy * 11 + i * 5) % 256
        img[..., 2] = ((xx + yy) * 3 + i) % 256
        img[..., 3] = 255
        rows.append((i, "image", bytearray(encode_png(img)), (w, h, "image/png", None)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_jpeg_media_fixture(spark, n: int = 16) -> DataFrame:
    """Media table whose image payloads are REAL baseline-JFIF bitstreams
    (deterministic gradients, encoded by the repo's own encoder —
    functions/jpeg.py) — exercises the real JPEG decode path end to end.
    Alternates 4:4:4 / 4:2:0 subsampling and quality levels."""
    from ..functions.jpeg import encode_jpeg

    rows = []
    for i in range(n):
        w, h = 12 + (i % 5) * 8, 10 + (i % 4) * 6
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.empty((h, w, 3), dtype=np.uint8)
        img[..., 0] = (xx * 255) // max(w - 1, 1)
        img[..., 1] = (yy * 255) // max(h - 1, 1)
        img[..., 2] = ((xx + yy) * 255) // max(w + h - 2, 1)
        payload = encode_jpeg(
            img, quality=(70, 85, 95)[i % 3], subsample=("444", "420")[i % 2]
        )
        rows.append((i, "image", bytearray(payload), (w, h, "image/jpeg", None)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_webp_media_fixture(spark) -> DataFrame:
    """Media table whose image payloads are REAL lossless-WebP (VP8L)
    bitstreams (deterministic gradients + noise, encoded by the repo's own
    encoder — functions/webp.py). Rotates through the encoder's stream
    features (plain literals, subtract-green, color cache, dist-1 runs,
    palette incl. sub-byte bundling) so the decoder's transform/cache/LZ77
    paths are all exercised end to end."""
    from ..functions.webp import encode_webp

    rows = []
    for i in range(16):
        w, h = 11 + (i % 5) * 7, 9 + (i % 4) * 5
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.empty((h, w, 3), dtype=np.uint8)
        img[..., 0] = (xx * 255) // max(w - 1, 1)
        img[..., 1] = (yy * 255) // max(h - 1, 1)
        img[..., 2] = ((xx * 7 + yy * 13 + i * 31) % 256).astype(np.uint8)
        kind = i % 5
        if kind == 4:  # palettized: quantize to ≤16 colors → bundled indices
            img = (img // 64) * 64 + 32
            img[..., 2] = img[..., 0]  # collapse to a small color set
            payload = encode_webp(img, use_palette=True, rle=True)
        else:
            payload = encode_webp(
                img,
                subtract_green=kind == 1,
                cache_bits=(0, 0, 5, 8)[kind],
                rle=kind == 3,
            )
        rows.append((i, "image", bytearray(payload), (w, h, "image/webp", None)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def decode_pixels_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake PIXEL decode: sha256 of the bytes tiled to an
    (height, width, 3) uint8 array. The stub stands in for the codec only —
    everything downstream of it operates on a real pixel array."""
    n = width * height * 3
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer((digest * (n // len(digest) + 1))[:n], dtype=np.uint8)
    return raw.reshape(height, width, 3).copy()


def decode_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """Codec dispatch: PNG, baseline-JPEG and still lossless-WebP payloads
    decode for real through `decode_image_real` (the bitstream's dims win
    over the declared metadata dims); every other format falls back to the
    deterministic stub.

    A payload with a supported magic that the reader refuses (interlaced or
    16-bit PNG, progressive JPEG, lossy or animated WebP, corrupt stream) also
    degrades to the stub — one odd payload must never fail the whole Arrow stage."""
    try:
        return decode_image_real(payload)
    except Exception:
        # deliberately broad: an unknown format raises NotImplementedError,
        # and corrupt crawl payloads raise whatever the bitstream math trips
        # over (ValueError, zlib.error, KeyError, struct.error,
        # ZeroDivisionError, ...); NONE of them may fail the whole Arrow
        # stage — the stub fallback IS the error handling
        return decode_pixels_stub(payload, width, height)


def resize_nearest(img: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """REAL nearest-neighbor resample — pure numpy index math, no imaging
    library involved: output pixel (y, x) reads source pixel
    (floor(y*H/th), floor(x*W/tw))."""
    h, w = img.shape[:2]
    yi = (np.arange(target_h) * h) // target_h
    xi = (np.arange(target_w) * w) // target_w
    return img[yi][:, xi]


def resize_images(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Image resize as one Arrow stage: decode (real for the formats
    decode_pixels lists, stub codec otherwise) →
    nearest-neighbor resample (real kernel) → re-serialized payload with
    updated dimensions.

    The 100 TB shape is what this pins: payloads stay opaque binary through
    the scan, only image rows reach the stage (`kind` filter pushed to the
    reader), metadata travels as typed columns so the target geometry is a
    plan-time constant, and each Arrow batch is processed without per-row
    Python object churn beyond the codec call. Swapping `decode_pixels_stub`
    for a real codec changes no plumbing."""
    if target_w < 1 or target_h < 1:
        raise ValueError(f"target dims must be >= 1, got {target_w}x{target_h}")

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = [
                resize_nearest(
                    decode_pixels(p, int(w), int(h)), target_w, target_h
                ).tobytes()
                for p, w, h in zip(pdf["payload"], pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "width": target_w,
                    "height": target_h,
                }
            )

    imgs = media.filter(F.col("kind") == "image").select(
        "media_id", "payload", F.col("meta.width").alias("width"), F.col("meta.height").alias("height")
    )
    return imgs.mapInPandas(_resize, schema=RESIZED_SCHEMA)
