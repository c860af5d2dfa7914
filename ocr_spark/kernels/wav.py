"""Pure-stdlib WAV (RIFF/PCM + G.711) codec: the REAL audio codec behind
the multimodal seam, companion to ``kernels.png``.

Supports canonical PCM WAV (8-bit unsigned and 16-bit signed samples) and
the two ITU-T G.711 companded telephony formats (µ-law, WAVE format tag
7, and A-law, tag 6 — what call-recording and voicemail crawl payloads
actually carry), any channel count (channels are averaged to mono on
decode — the analysis operators are mono), any sample rate. Other
compressed/float formats raise ``ValueError`` — callers'
malformed-payload discipline turns that into a row skip, never a task
crash. The reference consumes decoded media via OpenCV-style arrays
(``/root/reference/test_img.py:38-43``); this is the audio analog with
the container parse done in-engine.
"""

from __future__ import annotations

import struct

import numpy as np


def _g711_luts() -> tuple[np.ndarray, np.ndarray]:
    """256-entry code → linear tables from the ITU-T G.711 expansion
    formulas (µ-law BIAS-132 segments; A-law 0x55-XOR segments)."""
    codes = np.arange(256, dtype=np.int64)
    # µ-law: complement, then sign/exponent/mantissa fields
    u = ~codes & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84)
    # A-law: XOR 0x55, then sign/segment/mantissa fields
    a = codes ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    alaw = np.where(a & 0x80, t, -t)
    return ulaw, alaw


_ULAW_LUT, _ALAW_LUT = _g711_luts()


def g711_linear(codes, encoding: str) -> np.ndarray:
    """G.711 code bytes (0–255) → ITU linear int16 values via the decode
    LUT. Public seam for fixtures that need the closed-form expansion
    (encode ∘ expand of an exact LUT value roundtrips bit-identically,
    so ``encode_wav(g711_linear(c, e) / 32767.0, encoding=e)`` yields a
    WAV whose decoded-sample sum is ``sum(g711_linear(c, e))``)."""
    if encoding == "ulaw":
        lut = _ULAW_LUT
    elif encoding == "alaw":
        lut = _ALAW_LUT
    else:
        raise ValueError(f"unknown G.711 encoding {encoding!r}")
    return lut[np.asarray(codes, dtype=np.int64)]
# nearest-code encode tables: codes ordered by their linear value
_ULAW_ORDER = np.argsort(_ULAW_LUT, kind="stable")
_ALAW_ORDER = np.argsort(_ALAW_LUT, kind="stable")


def _g711_encode(x: np.ndarray, lut: np.ndarray, order: np.ndarray) -> bytes:
    """float [-1,1] → nearest-representable G.711 codes (the decode LUT
    is authoritative ITU; encoding picks the code whose expansion is
    nearest, so decode(encode(x)) is the best 8-bit companded value)."""
    lin = np.clip(np.asarray(x, dtype=np.float64), -1.0, 1.0) * 32767.0
    sorted_vals = lut[order]
    idx = np.searchsorted(sorted_vals, lin)
    idx = np.clip(idx, 1, 255)
    left = sorted_vals[idx - 1]
    right = sorted_vals[idx]
    pick = np.where(lin - left <= right - lin, idx - 1, idx)
    return order[pick].astype(np.uint8).tobytes()


def encode_wav(
    samples: np.ndarray,
    sample_rate: int = 16000,
    bits: int = 16,
    encoding: str = "pcm",
) -> bytes:
    """float array in [-1, 1] → mono WAV bytes.

    ``encoding="pcm"`` (default): linear PCM, 16-bit (default) or 8-bit.
    ``encoding="ulaw"`` / ``"alaw"``: ITU-T G.711 companded 8-bit
    (WAVE format tags 7 / 6) — the telephony formats."""
    x = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    if encoding == "ulaw":
        data = _g711_encode(x, _ULAW_LUT, _ULAW_ORDER)
        tag, block, fmt_bits = 7, 1, 8
    elif encoding == "alaw":
        data = _g711_encode(x, _ALAW_LUT, _ALAW_ORDER)
        tag, block, fmt_bits = 6, 1, 8
    elif encoding != "pcm":
        raise ValueError(f"unknown WAV encoding {encoding!r}")
    elif bits == 16:
        data = (x * 32767.0).round().astype("<i2").tobytes()
        tag, block, fmt_bits = 1, 2, 16
    elif bits == 8:
        data = ((x * 127.0).round() + 128).astype(np.uint8).tobytes()
        tag, block, fmt_bits = 1, 1, 8
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    fmt = struct.pack(
        "<HHIIHH", tag, 1, sample_rate, sample_rate * block, block, fmt_bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        # RIFF chunks are word-aligned: an odd-length data chunk (8-bit PCM,
        # odd sample count) carries a pad byte NOT counted in the chunk
        # length — third-party parsers walk on the aligned boundary
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV bytes → (float32 mono samples in [-1, 1], sample_rate)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    raw = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated WAV chunk")
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            if length < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            raw = body
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _rate, _block, bits = fmt
    if audio_format not in (1, 6, 7):
        raise ValueError(
            f"unsupported WAV format {audio_format} (PCM/G.711 only)"
        )
    if channels < 1:
        raise ValueError("zero channels")
    if audio_format in (6, 7):
        if bits != 8:
            raise ValueError(f"G.711 requires 8-bit samples, got {bits}")
        lut = _ALAW_LUT if audio_format == 6 else _ULAW_LUT
        x = np.frombuffer(raw[: len(raw) - len(raw) % channels], np.uint8)
        x = np.clip(
            lut[x].astype(np.float32) / 32767.0, -1.0, 1.0
        )
    elif bits == 16:
        x = np.frombuffer(raw[: len(raw) - len(raw) % (2 * channels)], "<i2")
        # /32767 keeps the encoder round-trip exact; the one asymmetric
        # value -32768 (full-scale negative from a foreign encoder) would
        # land at ~-1.00003, so clamp to the documented [-1, 1] contract
        x = np.maximum(x.astype(np.float32) / 32767.0, -1.0)
    elif bits == 8:
        x = np.frombuffer(raw[: len(raw) - len(raw) % channels], np.uint8)
        x = (x.astype(np.float32) - 128.0) / 127.0
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    if channels > 1:
        x = x.reshape(-1, channels).mean(axis=1)
    return x.astype(np.float32), sample_rate
