"""From-spec BMP codec (datapipe/bmp.py) + the real multimodal image path."""

from __future__ import annotations

import numpy as np
import pytest

from graph_embeddings_spark.datapipe.bmp import _headers, decode_bmp, encode_bmp_gray8, is_bmp
from media_helpers import resize_images


def encode_bmp_rgb24(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bpp BMP (stored BGR, bottom-up, padded)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    stride = (3 * w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : 3 * w] = img[::-1, :, ::-1].reshape(h, 3 * w)  # flip rows, RGB->BGR
    return _headers(w, h, 24, 0, h * stride) + rows.tobytes()


@pytest.mark.parametrize("w,h", [(8, 8), (5, 3), (1, 1), (7, 4), (13, 2)])
def test_gray8_roundtrip_exact(w, h):
    """Identity grayscale palette -> decode(encode(img)) == img, including
    odd widths where rows pad to 4 bytes."""
    rng = np.random.default_rng(w * 100 + h)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    payload = encode_bmp_gray8(img)
    assert is_bmp(payload)
    assert np.array_equal(decode_bmp(payload), img)


def test_rgb24_decodes_to_integer_luma():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    got = decode_bmp(encode_bmp_rgb24(img))
    r, g, b = (img[:, :, i].astype(np.uint32) for i in range(3))
    want = ((299 * r + 587 * g + 114 * b + 500) // 1000).astype(np.uint8)
    assert np.array_equal(got, want)


def test_decode_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError):
        decode_bmp(b"not a bmp at all, definitely not")
    # corrupt the compression field of a valid file -> explicit refusal
    payload = bytearray(encode_bmp_gray8(np.zeros((4, 4), dtype=np.uint8)))
    payload[30] = 1  # BI_RLE8
    with pytest.raises(ValueError):
        decode_bmp(bytes(payload))


def test_image_features_closed_form_histogram(spark):
    """The driver-visible feature stage over REAL encoded bytes: a known
    gradient image's 16-bin histogram must equal numpy's, exactly."""
    import pandas as pd
    from graph_embeddings_spark.datapipe.multimodal import MEDIA_SCHEMA, image_features

    img = np.arange(64, dtype=np.uint8).reshape(8, 8) * 4  # values 0..252
    payload = encode_bmp_gray8(img)
    rows = [(0, "image", bytearray(payload), {"width": 8, "height": 8, "sample_rate": 0, "n_frames": 1})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = image_features(media, n_bins=16).collect()
    assert len(got) == 1
    want, _ = np.histogram(img, bins=16, range=(0, 256))
    want = want / want.sum()
    assert np.allclose(got[0]["feat"], want, atol=1e-7)


def test_unknown_image_payload_gives_null_features(spark):
    """A payload that is neither BMP nor JPEG has no codec: its row keeps a
    NULL feat (and a NULL resize), so the drop is counted, not filled with
    pixels made up from the payload bytes."""
    from pyspark.sql import functions as F

    from graph_embeddings_spark.datapipe.multimodal import MEDIA_SCHEMA, image_features

    meta = {"width": 8, "height": 8, "sample_rate": 0, "n_frames": 1}
    bmp = encode_bmp_gray8(np.zeros((8, 8), dtype=np.uint8))
    rows = [
        (0, "image", bytearray(bmp), meta),
        (1, "image", bytearray(b"GIF89a\x08\x00\x08\x00 not decodable here"), meta),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = image_features(media, n_bins=16)
    got = {r["media_id"]: r["feat"] for r in feats.collect()}
    assert got[1] is None
    assert got[0] is not None and sum(got[0]) == pytest.approx(1.0)
    assert feats.filter(F.col("feat").isNull()).count() == 1
    resized = {r["media_id"]: r["resized"] for r in resize_images(media).collect()}
    assert resized[1] is None and len(resized[0]) == 16


def test_synthetic_media_images_are_real_encoded_files(spark):
    """Image rows alternate genuine BMP and baseline-JPEG payloads; both
    decode through their from-scratch codecs to the declared dimensions."""
    from graph_embeddings_spark.datapipe.jpeg import decode_jpeg_gray, is_jpeg
    from graph_embeddings_spark.datapipe.multimodal import synthetic_media_df

    media = synthetic_media_df(spark, 24, partitions=2).collect()
    kinds = {"bmp": 0, "jpeg": 0}
    for r in media:
        if r["kind"] == "image":
            payload = bytes(r["payload"])
            if is_jpeg(payload):
                img = decode_jpeg_gray(payload)
                kinds["jpeg"] += 1
            else:
                img = decode_bmp(payload)
                kinds["bmp"] += 1
            assert img.shape == (r["meta"]["height"], r["meta"]["width"])
    assert kinds["bmp"] > 0 and kinds["jpeg"] > 0  # both codecs exercised


def test_hdt_dispatches_to_codec():
    # .hdt now routes to the from-scratch codec (tests/test_hdt.py)
    from graph_embeddings_spark.sources.reader import detect_format

    assert detect_format("/data/graph.hdt") == "hdt"
