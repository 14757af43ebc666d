"""Multimodal column plumbing: image/audio/video as opaque binary
columns + typed metadata; features come from a column kernel
(`kernel.arrow_kernel`) over the payload and format columns.

Uncompressed 24/32-bit BMP decodes natively end-to-end (`decode_bmp`
below — dependency-free, header-validated), proving the decode seam
with real pixels. Other formats (JPEG/PNG/audio/video) need imaging
libraries this container lacks, so for those `decode_image` raises
NotImplementedError unless a deterministic fake is requested.
Everything Spark-side — schema, partition sizing, UDF signatures,
batch shapes — is real and tested, so dropping in a real decoder
(PIL/torchaudio/ffmpeg) on a production image changes one function.

Scale notes: binary payloads make rows heavy. Keep
spark.sql.files.maxPartitionBytes low enough that a partition of
payloads fits executor memory; never collect; metadata-only pruning
(width/height/codec filters) happens BEFORE decode via the typed
metadata column.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import arrow_kernel, column

_FEATURE_TYPE = ArrayType(FloatType())
_FEATURE_ARROW_TYPE = to_arrow_type(_FEATURE_TYPE)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Dependency-free decoder for uncompressed 24/32-bit BMP
    (BITMAPINFOHEADER): returns an (h, w, 3) uint8 RGB array. Proves
    the feature kernel's decode seam end-to-end without an imaging library;
    rows are stored bottom-up and padded to 4-byte boundaries."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    flip = height > 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"invalid BMP dimensions ({width}x{height})")
    if width > 1 << 24 or height > 1 << 24:
        raise ValueError(f"BMP dimensions overflow ({width}x{height})")
    nch = bpp // 8
    row_bytes = (width * nch + 3) & ~3
    if data_off < 54 or data_off + row_bytes * height > len(payload):
        raise ValueError(
            f"BMP payload truncated: need {data_off + row_bytes * height} "
            f"bytes for {width}x{height}@{bpp}bpp, have {len(payload)}"
        )
    out = np.empty((height, width, 3), dtype=np.uint8)
    for r in range(height):
        off = data_off + r * row_bytes
        row = np.frombuffer(payload, dtype=np.uint8, count=width * nch, offset=off)
        row = row.reshape(width, nch)
        dst = (height - 1 - r) if flip else r
        out[dst] = row[:, [2, 1, 0]]  # BGR(A) -> RGB
    return out


def encode_bmp(rgb: np.ndarray) -> bytes:
    """Minimal 24-bit BMP writer (test/dev helper, inverse of
    decode_bmp)."""
    import struct

    h, w = rgb.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = b"BM" + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    for r in range(h - 1, -1, -1):
        row = rgb[r][:, [2, 1, 0]].astype(np.uint8).tobytes()
        rows.append(row + b"\x00" * (row_bytes - len(row)))
    return header + b"".join(rows)


def decode_image(payload: bytes, fmt: str):
    """BMP decodes natively (decode_bmp); other formats need an imaging
    library not present in this environment (on a cluster image with
    PIL: `Image.open(io.BytesIO(payload))`)."""
    if fmt and fmt.lower() == "bmp":
        return decode_bmp(payload)
    raise NotImplementedError(
        "only uncompressed BMP decodes without an imaging library; use "
        "fake=True for the deterministic test kernel"
    )


def _fake_feature(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for an embedding extractor: chunked byte
    sums, L2-normalized. Keeps the full pipeline testable."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    pad = (-len(arr)) % dim
    if pad:
        arr = np.pad(arr, (0, pad))
    v = arr.reshape(dim, -1).sum(axis=1).astype(np.float64)
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32)


def _image_feature(payload: bytes, fmt: str, dim: int) -> list | None:
    """Real decode path: per-channel mean/std + a coarse luminance
    histogram from the decoded RGB array, padded/truncated to dim."""
    rgb = decode_image(payload, fmt)
    flat = rgb.reshape(-1, 3).astype(np.float64)
    feats = list(flat.mean(axis=0) / 255.0) + list(flat.std(axis=0) / 255.0)
    lum = flat.mean(axis=1)
    hist, _ = np.histogram(lum, bins=max(1, dim - 6), range=(0.0, 255.0))
    total = hist.sum() or 1
    feats += list(hist / total)
    feats = feats[:dim] + [0.0] * max(0, dim - len(feats))
    return [float(x) for x in feats]


def extract_features(
    df: DataFrame, dim: int = 8, fake: bool = True
) -> DataFrame:
    """(media_id, n_bytes, feature) per media row: `n_bytes` is a JVM
    expression, `feature` an `array<float>` column kernel over
    (payload, format) that Arrow feeds batch by batch. With fake=False,
    payloads decode for real (BMP natively; other formats raise until an
    imaging library is present)."""

    def features(payloads, fmts):
        # every non-null row holds exactly `dim` values; a null row holds
        # none and is NULL through its offset's validity
        rows = [p if p is None else _fake_feature(p, dim) if fake else _image_feature(p, f, dim)
                for p, f in zip(payloads.to_pylist(), fmts.to_pylist())]
        nulls = np.array([r is None for r in rows] + [False])
        offsets = dim * np.cumsum(np.append(0, ~nulls[:-1]), dtype=np.int32)
        values = column(np.array([r for r in rows if r is not None], dtype=np.float32).reshape(-1))
        return pa.ListArray.from_arrays(column(offsets, nulls), values, type=_FEATURE_ARROW_TYPE)

    kernel = arrow_kernel(lambda: features, _FEATURE_TYPE)
    fmt = F.col("format") if "format" in df.columns else F.lit(None).cast("string")
    return df.select(
        "media_id",
        F.coalesce(F.length("payload"), F.lit(0)).alias("n_bytes"),
        kernel(F.col("payload"), fmt).alias("feature"),
    )


def synthesize_media_from_docs(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from the documents table
    (text bytes as payload) — exercises the binary plumbing end-to-end
    without external data."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("fake").alias("format"),
        F.lit(64).cast("int").alias("width"),
        F.lit(64).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explodes sample timestamps from
    typed metadata BEFORE any decode — so partition sizing and shuffle
    happen on light rows; the (stubbed) frame decode applies after."""
    return df.where(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                       F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
