"""Real-decoder seam proof: uncompressed BMP decodes natively through
the feature column kernel (VERDICT r6 item 7)."""


def test_bmp_real_decode_through_mapinpandas(spark):
    """The real (non-fake) decode path runs end-to-end for BMP: tiny
    payloads built with encode_bmp flow through the feature kernel and come
    back with pixel-derived features — no NotImplementedError."""
    import numpy as np

    from beagle_spark.ops.multimodal import (
        decode_bmp,
        encode_bmp,
        extract_features,
    )

    rng = np.random.default_rng(42)
    rows = []
    for i in range(6):
        img = rng.integers(0, 256, size=(4 + i, 5, 3), dtype=np.uint8)
        rows.append((i, "image", bytearray(encode_bmp(img)), "bmp",
                     5, 4 + i, None))
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, format string, "
              "width int, height int, duration_ms int")
    out = extract_features(df, dim=8, fake=False).collect()
    assert len(out) == 6
    for r in out:
        assert r["feature"] is not None and len(r["feature"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
    # decode matches the local decoder: mean of channel 0
    img0 = decode_bmp(bytes(rows[0][2]))
    want = float(img0.reshape(-1, 3).mean(axis=0)[0] / 255.0)
    got = [r for r in out if r["media_id"] == 0][0]["feature"][0]
    assert abs(got - want) < 1e-6

def test_bmp_header_validation():
    """Malformed BMP headers raise a clean ValueError, not a numpy
    error (ADVICE r8: validate dimensions and payload bounds)."""
    import struct

    import numpy as np
    import pytest

    from beagle_spark.ops.multimodal import decode_bmp, encode_bmp

    good = bytearray(encode_bmp(
        np.zeros((4, 5, 3), dtype=np.uint8)))

    def patched(off, fmt, *vals):
        b = bytearray(good)
        struct.pack_into(fmt, b, off, *vals)
        return bytes(b)

    # width <= 0
    with pytest.raises(ValueError, match="invalid BMP dimensions"):
        decode_bmp(patched(18, "<i", 0))
    with pytest.raises(ValueError, match="invalid BMP dimensions"):
        decode_bmp(patched(18, "<i", -5))
    # height == 0
    with pytest.raises(ValueError, match="invalid BMP dimensions"):
        decode_bmp(patched(22, "<i", 0))
    # overflowing dimensions
    with pytest.raises(ValueError, match="overflow"):
        decode_bmp(patched(18, "<i", 1 << 30))
    with pytest.raises(ValueError, match="overflow"):
        decode_bmp(patched(22, "<i", 1 << 30))
    # truncated payload
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(bytes(good[:-8]))
    # data offset pointing into the header / past the end
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(patched(10, "<I", 10))
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(patched(10, "<I", len(good)))
    # negative height (top-down BMP) with valid payload still decodes
    b = bytearray(good)
    struct.pack_into("<i", b, 22, -4)
    img = decode_bmp(bytes(b))
    assert img.shape == (4, 5, 3)
