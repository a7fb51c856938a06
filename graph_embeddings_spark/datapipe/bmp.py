"""Minimal from-spec BMP codec (Windows BITMAPINFOHEADER, BI_RGB only).

The sandbox ships no image libraries, but BMP is simple enough to implement
from the public format description, which makes the image path of
datapipe/multimodal.py a REAL decode instead of a declared stub: 8-bit
paletted (grayscale) and 24-bit BGR, uncompressed, bottom-up rows padded to
4 bytes. The grayscale encoder lets the synthetic media corpus produce
genuine files; `decode_bmp` returns a (h, w) uint8 grayscale grid (24-bit
input is reduced with integer Rec.601 luma — deterministic, no floats).

Not supported (raises ValueError, never silently misdecodes): compressed
BMPs (RLE/bitfields), 1/4/16/32-bpp, top-down (negative height) images.
"""

from __future__ import annotations

import struct

import numpy as np


def _headers(width: int, height: int, bpp: int, palette_entries: int, data_size: int) -> bytes:
    offset = 14 + 40 + 4 * palette_entries
    file_header = struct.pack("<2sIHHI", b"BM", offset + data_size, 0, 0, offset)
    info_header = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, bpp, 0, data_size, 2835, 2835, palette_entries, 0,
    )
    return file_header + info_header


def encode_bmp_gray8(img: np.ndarray) -> bytes:
    """(h, w) uint8 -> 8-bpp BMP with the identity grayscale palette
    (palette[i] = (i, i, i, 0)) — decode_bmp round-trips it exactly."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    stride = (w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = img[::-1]  # bottom-up
    pal = np.zeros((256, 4), dtype=np.uint8)
    pal[:, 0] = pal[:, 1] = pal[:, 2] = np.arange(256)
    return _headers(w, h, 8, 256, h * stride) + pal.tobytes() + rows.tobytes()


def is_bmp(payload: bytes) -> bool:
    return len(payload) >= 54 and payload[:2] == b"BM"


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes -> (h, w) uint8 grayscale grid."""
    if not is_bmp(payload):
        raise ValueError("not a BMP payload")
    buf = np.frombuffer(payload, dtype=np.uint8)
    offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or compression != 0:
        raise ValueError(f"unsupported BMP (hdr_size={hdr_size}, compression={compression})")
    if height <= 0 or width <= 0:
        raise ValueError("top-down or degenerate BMP not supported")
    if bpp == 8:
        n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
        pal = buf[14 + hdr_size : 14 + hdr_size + 4 * n_colors].reshape(-1, 4)
        # integer Rec.601 luma of the palette entry (BGRx order); for a
        # grayscale palette this is the identity
        pal32 = pal.astype(np.uint32)
        lum = ((299 * pal32[:, 2] + 587 * pal32[:, 1] + 114 * pal32[:, 0] + 500) // 1000).astype(np.uint8)
        stride = (width + 3) & ~3
        rows = buf[offset : offset + height * stride].reshape(height, stride)
        return lum[rows[::-1, :width]]
    if bpp == 24:
        stride = (3 * width + 3) & ~3
        rows = buf[offset : offset + height * stride].reshape(height, stride)
        bgr = rows[::-1, : 3 * width].reshape(height, width, 3).astype(np.uint32)
        return ((299 * bgr[:, :, 2] + 587 * bgr[:, :, 1] + 114 * bgr[:, :, 0] + 500) // 1000).astype(np.uint8)
    raise ValueError(f"unsupported BMP bit depth {bpp}")
