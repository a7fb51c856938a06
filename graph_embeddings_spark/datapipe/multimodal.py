"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed through Arrow-batched mapInPandas stages.

The Spark-side machinery (schemas, batch shapes, partition-preserving UDF
signatures, metadata propagation) is real and tested. The IMAGE path is a
real codec: BMP payloads (8-bit paletted / 24-bit BGR) decode through the
from-spec parser in datapipe/bmp.py, and JPEG payloads through the
from-scratch baseline DCT/Huffman codec in datapipe/jpeg.py — the
synthetic media corpus emits genuine files of both and tests check
closed-form histograms against the encoded pixels. The AUDIO path is
likewise real: PCM WAV payloads decode through the from-spec RIFF parser
in datapipe/wav.py and the corpus emits genuine WAV files (seeded
sine+noise), with spectral-band features checked against closed-form
expectations. The VIDEO path decodes real YUV4MPEG2 (Y4M) payloads
through the from-spec parser in datapipe/y4m.py — frame sampling returns
actual luma planes. The remaining compressed-format fallbacks (MP3,
H.264) are deterministic fakes — the sandbox has no ffmpeg — and swapping
those in changes ONE function per modality, nothing in the Spark plan.

Schemas:
    media(media_id long, kind string, payload binary,
          meta struct<width:int, height:int, sample_rate:int, n_frames:int>)
    image features -> (media_id, feat array<float>)
    frame samples  -> (media_id, frame_idx int, frame binary)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

def _decode_image(payload: bytes, width: int, height: int) -> np.ndarray | None:
    """Image decode dispatch: real BMP codec for BMP payloads (8/24-bpp
    uncompressed), real baseline-JPEG codec for JPEG payloads (from-scratch
    DCT/Huffman decode in datapipe/jpeg.py, luma plane); both read their
    dimensions from the payload, not from the declared width/height. Any
    other payload has no codec here (the package does not depend on PIL):
    None, never pixels made up from the bytes."""
    from .bmp import decode_bmp, is_bmp
    from .jpeg import decode_jpeg_gray, is_jpeg

    payload = bytes(payload or b"")
    if is_bmp(payload):
        return decode_bmp(payload)
    if is_jpeg(payload):
        return decode_jpeg_gray(payload)
    return None


def _decode_audio(payload: bytes, sample_rate: int) -> tuple[np.ndarray, int]:
    """Audio decode dispatch: real PCM WAV codec for WAV payloads, a
    deterministic byte-widening fake for anything else (no ffmpeg in this
    sandbox). Returns ((n_samples,) int16 mono mix, sample_rate)."""
    from .wav import decode_wav, is_wav

    payload = bytes(payload or b"")
    if is_wav(payload):
        samples, rate = decode_wav(payload)
        # integer mono mix: mean across channels (truncated toward zero;
        # exact for the mono corpus where the mean is the sample itself)
        return samples.mean(axis=1).astype(np.int16), rate
    buf = np.frombuffer(payload, dtype=np.uint8).astype(np.int16)
    return ((buf - 128) << 8), max(sample_rate, 1)


def synthetic_media_df(spark, n: int, seed: int = 42, partitions: int = 4) -> DataFrame:
    """Deterministic corpus of media rows (pure function of (seed, id)).
    Image rows carry REAL encoded files, alternating 8-bit grayscale BMPs
    (from-spec codec in bmp.py) and baseline JPEGs (from-scratch
    DCT/Huffman codec in jpeg.py) so both decode paths run in every batch;
    audio rows carry REAL PCM WAV files (seeded sine+noise via the
    from-spec codec in wav.py); video rows carry REAL Y4M streams (seeded
    luma frames via the from-spec codec in y4m.py)."""
    from .bmp import encode_bmp_gray8
    from .jpeg import encode_jpeg_gray8
    from .wav import encode_wav_pcm16
    from .y4m import encode_y4m_gray

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                rng = np.random.default_rng([seed, mid])
                kind = ["image", "audio", "video"][mid % 3]
                width, height = 8 + mid % 8, 8
                n_frames = 10 + mid % 5 if kind == "video" else 1
                if kind == "image":
                    img = rng.integers(0, 256, size=(height, width), dtype=np.uint8)
                    if (mid // 3) % 2:  # alternate codecs across image rows
                        payload = encode_jpeg_gray8(img, quality=95)
                    else:
                        payload = encode_bmp_gray8(img)
                elif kind == "audio":
                    n_samp = 256 + (mid % 4) * 128
                    t = np.arange(n_samp)
                    freq = 500.0 * (1 + mid % 8)  # Hz, well under Nyquist at 16 kHz
                    tone = 8000.0 * np.sin(2 * np.pi * freq * t / 16000.0)
                    noise = rng.integers(-512, 512, size=n_samp)
                    payload = encode_wav_pcm16((tone + noise).astype(np.int16), 16000)
                else:
                    width &= ~1  # C420 chroma is half-resolution: even dims
                    frames = rng.integers(0, 256, size=(n_frames, height, width), dtype=np.uint8)
                    payload = encode_y4m_gray(frames)
                meta = {
                    "width": width,
                    "height": height,
                    "sample_rate": 16000 if kind == "audio" else 0,
                    "n_frames": n_frames,
                }
                rows.append((mid, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, MEDIA_SCHEMA)


def image_features(media: DataFrame, n_bins: int = 16) -> DataFrame:
    """images -> (media_id, feat array<float>): intensity histogram of the
    decoded grid (REAL decode for BMP and JPEG payloads). A payload no codec
    reads keeps its row with a NULL feat, so the drops are counted by
    `feat IS NULL` rather than vanishing. Arrow-batched; per-batch numpy,
    no per-row Python at the Spark layer."""

    def extract(batches):
        for pdf in batches:
            ids, feats = [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                img = _decode_image(payload, int(meta["width"]), int(meta["height"]))
                ids.append(int(mid))
                if img is None:
                    feats.append(None)
                    continue
                hist, _ = np.histogram(img, bins=n_bins, range=(0, 256))
                total = hist.sum() or 1
                feats.append((hist / total).astype(np.float32))
            yield pd.DataFrame({"media_id": ids, "feat": feats})

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload", "meta")
        .mapInPandas(extract, "media_id long, feat array<float>")
    )


def audio_features(media: DataFrame, n_bands: int = 8) -> DataFrame:
    """audio -> (media_id, feat array<float>): [rms, zero-crossing-rate,
    band_0..band_{n-1}] where bands are the L1-normalized rFFT magnitude
    sums over n_bands equal frequency bins of the mono mix (REAL decode for
    PCM WAV payloads). Arrow-batched; per-batch numpy only."""

    def extract(batches):
        for pdf in batches:
            ids, feats = [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                mono, _rate = _decode_audio(payload, int(meta["sample_rate"]))
                x = mono.astype(np.float64)
                if x.size == 0:
                    feat = np.zeros(2 + n_bands, dtype=np.float32)
                else:
                    rms = float(np.sqrt(np.mean(x * x))) / 32768.0
                    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if x.size > 1 else 0.0
                    mag = np.abs(np.fft.rfft(x))[1:]  # drop DC: level lives in rms
                    if mag.size:
                        edges = np.linspace(0, mag.size, n_bands + 1).astype(int)
                        csum = np.concatenate(([0.0], np.cumsum(mag)))
                        bands = csum[edges[1:]] - csum[edges[:-1]]  # repeat-safe: empty bins are 0
                        bands = bands / (bands.sum() or 1.0)
                    else:
                        bands = np.zeros(n_bands)
                    feat = np.concatenate(([rms, zcr], bands)).astype(np.float32)
                ids.append(int(mid))
                feats.append(feat)
            yield pd.DataFrame({"media_id": ids, "feat": feats})

    return (
        media.filter(F.col("kind") == "audio")
        .select("media_id", "payload", "meta")
        .mapInPandas(extract, "media_id long, feat array<float>")
    )


def sample_frames(media: DataFrame, every: int = 3) -> DataFrame:
    """videos -> (media_id, frame_idx, frame binary): every Nth frame,
    REAL luma planes for Y4M payloads (from-spec decode in y4m.py),
    deterministic blob slices for anything else (no ffmpeg in this
    sandbox). Output fans out rows — partitioning survives because
    mapInPandas emits within the input partition."""
    from .y4m import decode_y4m_luma, is_y4m

    def frames(batches):
        for pdf in batches:
            rows = []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                blob = bytes(payload)
                if is_y4m(blob):
                    luma, _ = decode_y4m_luma(blob)
                    for fi in range(0, luma.shape[0], every):
                        rows.append((int(mid), fi, luma[fi].tobytes()))
                else:
                    n = int(meta["n_frames"])
                    step = max(len(blob) // max(n, 1), 1)
                    for fi in range(0, n, every):
                        rows.append((int(mid), fi, blob[fi * step : (fi + 1) * step]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload", "meta")
        .mapInPandas(frames, "media_id long, frame_idx int, frame binary")
    )
