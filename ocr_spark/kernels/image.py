"""The container seam: one magic table and one decode-to-gray for every
image-bearing path (embedded page lines, the media table, video frames).

``sniff`` names the container of a payload by its magic bytes;
``decode_gray`` turns an image container into the float32 (H, W) [0, 1]
raster every consumer normalizes from — color reduced to luma by channel
mean, dimensions from the container header, never from advisory
attributes. The codecs under ``kernels/`` still validate their own input;
this module only routes bytes to them.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.kernels.gif import GIF_MAGICS, iter_gif_frames
from ocr_spark.kernels.jpeg import JPEG_MAGIC, jpeg_to_gray_float
from ocr_spark.kernels.png import PNG_MAGIC, png_to_gray_float


def sniff(payload: bytes) -> str | None:
    """Container by magic bytes: 'png' | 'jpeg' | 'gif' | 'avi' | 'wav',
    or None for anything else (the families are prefix-disjoint)."""
    if payload.startswith(PNG_MAGIC):
        return "png"
    if payload.startswith(JPEG_MAGIC):
        return "jpeg"
    if payload[:6] in GIF_MAGICS:
        return "gif"
    if payload[:4] == b"RIFF":
        return {b"AVI ": "avi", b"WAVE": "wav"}.get(payload[8:12])
    return None


def decode_gray(payload: bytes) -> np.ndarray | None:
    """PNG, JPEG or the first GIF frame → float32 (H, W) luma in [0, 1];
    None for bytes that are not an image container. Raises ``ValueError``
    or ``zlib.error`` on a corrupt container (callers skip, never crash)."""
    fmt = sniff(payload)
    if fmt == "png":
        return png_to_gray_float(payload)
    if fmt == "jpeg":
        return jpeg_to_gray_float(payload)
    if fmt == "gif":
        for _no, rgb in iter_gif_frames(payload, max_frames=1):
            return rgb.astype(np.float32).mean(axis=2) / 255.0
        raise ValueError("GIF with no frames")
    return None
