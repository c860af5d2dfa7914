"""WAV codec: roundtrips, stereo downmix, malformed inputs, and the
media-feature audio seam sniffing."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocr_spark.kernels.wav import decode_wav, encode_wav


def _tone(n=1600, sr=16000):
    t = np.arange(n) / sr
    return (0.7 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)


@pytest.mark.parametrize("bits,tol", [(16, 1.0 / 32767), (8, 1.0 / 127)])
def test_roundtrip_quantization_bound(bits, tol):
    x = _tone()
    y, sr = decode_wav(encode_wav(x, 16000, bits=bits))
    assert sr == 16000
    assert len(y) == len(x)
    assert np.abs(y - x).max() <= tol + 1e-7


def test_stereo_downmix():
    """Hand-built 2-channel PCM: decode averages channels to mono."""
    left = np.array([1000, -1000, 500], dtype="<i2")
    right = np.array([3000, 1000, -500], dtype="<i2")
    inter = np.empty(6, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    data = inter.tobytes()
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    y, sr = decode_wav(wav)
    want = (left.astype(np.float32) + right) / 2 / 32767.0
    assert sr == 8000
    assert np.allclose(y, want, atol=1e-6)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:10],  # truncated header
        lambda b: b"OGGS" + b[4:],  # wrong magic
        lambda b: b[:40],  # truncated mid-chunk
        lambda b: b.replace(b"fmt ", b"xxx "),  # missing fmt
    ],
)
def test_malformed_raises(mutate):
    wav = encode_wav(_tone())
    with pytest.raises(ValueError):
        decode_wav(mutate(wav))


def test_decode_audio_seam_sniffs_wav(spark):
    """The feature extractor's audio seam reads the RIFF header, not the
    advisory meta: a lying ``sample_rate`` leaves decoded_w at the RIFF
    sample count."""
    from ocr_spark.operators.multimodal import MEDIA_SCHEMA, extract_media_features

    x = _tone()
    media = spark.createDataFrame(
        [(1, "u", "audio", bytearray(encode_wav(x)), (None, None, None, 999, "audio/wav"))],
        MEDIA_SCHEMA,
    )
    (row,) = extract_media_features(media).collect()
    assert row.fmt == "wav"
    assert (row.decoded_w, row.decoded_h) == (len(x), 1)  # RIFF wins
    y, _sr = decode_wav(encode_wav(x))
    assert row.pixel_sum == int(np.rint(y * 32767.0).astype(np.int64).sum())


# ---- hostile-input fuzz ----

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_fuzz_random_wav_bytes(data):
    try:
        wave, sr = decode_wav(b"RIFF" + data)
        assert wave.dtype == np.float32 and sr >= 0
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=8, max_value=120),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=99),
)
def test_fuzz_mutated_valid_wav(cut, byte, pos):
    data = bytearray(encode_wav(_tone(64)))
    data[min(pos, len(data) - 1)] ^= byte
    try:
        decode_wav(bytes(data[:cut]))
    except ValueError:
        pass

def test_full_scale_negative_clamped_to_contract():
    """A foreign encoder can emit -32768 (the asymmetric 16-bit extreme);
    /32767 would yield ~-1.00003, outside the documented [-1, 1] contract
    — decode clamps it to exactly -1.0."""
    samples = np.array([-32768, 32767, 0], dtype="<i2")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 2, 2, 16)
    data = samples.tobytes()
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    y, _ = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert y.min() == -1.0
    assert y.max() == 1.0
    assert np.all(y >= -1.0) and np.all(y <= 1.0)


def test_odd_length_data_chunk_word_aligned():
    """8-bit PCM with an odd sample count: the encoder writes the RIFF pad
    byte after the data chunk (not counted in the chunk length), so the
    container is word-aligned for third-party parsers and the declared
    RIFF size matches the actual file length."""
    x = _tone(n=333)
    wav = encode_wav(x, 8000, bits=8)
    (riff_len,) = struct.unpack_from("<I", wav, 4)
    assert riff_len == len(wav) - 8  # pad byte counted in the RIFF size
    (data_len,) = struct.unpack_from("<I", wav, wav.index(b"data") + 4)
    assert data_len == 333  # ...but not in the chunk length
    assert len(wav) % 2 == 0
    y, _ = decode_wav(wav)
    assert len(y) == 333


# ---- G.711 µ-law / A-law (WAVE format tags 7 / 6) ----


def test_g711_itu_expansion_vectors():
    """The decode LUTs reproduce the canonical ITU-T G.711 expansions:
    µ-law codes 0xFF/0x7F are the two zeros and 0x80/0x00 the extremes
    (±32124); A-law 0xD5/0x55 are the smallest magnitudes (±8, no true
    zero) and 0xAA/0x2A the extremes (±32256)."""
    from ocr_spark.kernels.wav import _ALAW_LUT, _ULAW_LUT

    assert _ULAW_LUT[0xFF] == 0 and _ULAW_LUT[0x7F] == 0
    assert _ULAW_LUT[0x80] == 32124 and _ULAW_LUT[0x00] == -32124
    assert _ALAW_LUT[0xD5] == 8 and _ALAW_LUT[0x55] == -8
    assert _ALAW_LUT[0xAA] == 32256 and _ALAW_LUT[0x2A] == -32256


@pytest.mark.parametrize("encoding", ["ulaw", "alaw"])
def test_g711_roundtrip_snr(encoding):
    """Companded 8-bit roundtrip reaches telephony-grade quality (>30 dB
    SNR on a speech-band tone) and stays inside the [-1, 1] contract."""
    t = np.linspace(0, 1, 4000)
    x = 0.6 * np.sin(2 * np.pi * 440 * t) + 0.1 * np.sin(2 * np.pi * 1200 * t)
    y, sr = decode_wav(encode_wav(x, 8000, encoding=encoding))
    assert sr == 8000 and len(y) == len(x)
    assert np.all(y >= -1.0) and np.all(y <= 1.0)
    snr = 10 * np.log10((x**2).mean() / ((y - x) ** 2).mean())
    assert snr > 30, snr


@pytest.mark.parametrize("tag", [6, 7])
def test_g711_arbitrary_codes_decode_total(tag):
    """Every 8-bit code is a valid G.711 sample: arbitrary data bytes
    decode without error and inside [-1, 1] (fuzz-style totality)."""
    data = bytes(range(256)) * 3
    fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    y, _ = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert len(y) == 768
    assert np.all(y >= -1.0) and np.all(y <= 1.0)


def test_g711_16bit_fmt_rejected():
    wav = bytearray(encode_wav(_tone(), encoding="ulaw"))
    fmt_at = wav.index(b"fmt ") + 8
    struct.pack_into("<H", wav, fmt_at + 14, 16)  # lie: 16-bit G.711
    with pytest.raises(ValueError):
        decode_wav(bytes(wav))


def test_unknown_encoding_rejected():
    with pytest.raises(ValueError, match="encoding"):
        encode_wav(_tone(), encoding="gsm")
