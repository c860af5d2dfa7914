"""GIF codec: LZW edges, interlace, animation composition, hostile
inputs, and the video-operator seam (animated GIF = the web's most common
lightweight video container)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocr_spark.kernels.gif import (
    _lzw_decode,
    _lzw_encode,
    encode_gif,
    iter_gif_frames,
)


def _all_frames(data):
    """All composited frames of a GIF, materialized from the lazy iterator."""
    return [frame for _, frame in iter_gif_frames(data)]


def _rng(seed=0):
    return np.random.default_rng(seed)


@pytest.mark.parametrize(
    "shape", [(1, 1, 1), (1, 8, 13), (3, 16, 16), (2, 8, 384), (1, 57, 43)]
)
def test_roundtrip_gray(shape):
    frames = _rng(3).integers(0, 256, shape, np.uint8)
    back = _all_frames(encode_gif(frames))
    assert len(back) == shape[0]
    for f, rgb in zip(frames, back):
        for c in range(3):  # identity gray palette: all channels equal
            np.testing.assert_array_equal(rgb[:, :, c], f)


def test_roundtrip_custom_palette_and_interlace():
    pal = _rng(1).integers(0, 256, (256, 3), np.uint8)
    idx = _rng(2).integers(0, 256, (1, 29, 17), np.uint8)
    for interlace in (False, True):
        rgb, = _all_frames(encode_gif(idx, palette=pal, interlace=interlace))
        np.testing.assert_array_equal(rgb, pal[idx[0]])


def test_lzw_dictionary_reset_path():
    """>4096 dictionary entries forces the encoder's clear-code reset and
    the decoder's table rebuild — random data at 100x100 overflows."""
    f = _rng(7).integers(0, 256, (1, 100, 100), np.uint8)
    np.testing.assert_array_equal(_all_frames(encode_gif(f))[0][:, :, 0], f[0])


def test_lzw_kwkwk_case():
    """The code==len(table) self-reference case (cScSc strings)."""
    # 'aaaa...' produces exactly that pattern at small code sizes
    seq = np.zeros(64, dtype=np.uint8)
    enc = _lzw_encode(seq, 2)
    np.testing.assert_array_equal(_lzw_decode(enc, 2, 64), seq)


def test_animation_composition_transparency_and_disposal():
    """Hand-built animation: frame 2 is a sub-rectangle with a
    transparent index over frame 1's canvas — the composite shows frame
    1 pixels through the holes (the shape real animated GIFs have)."""
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    base = np.full((8, 8), 10, np.uint8)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 8, 8, 0xF7, 0, 0)
    out += pal.tobytes()

    def image_block(raster, x, y, w, h):
        b = bytearray(struct.pack("<BHHHHB", 0x2C, x, y, w, h, 0))
        b.append(8)
        lzw = _lzw_encode(raster.ravel(), 8)
        for at in range(0, len(lzw), 255):
            chunk = lzw[at : at + 255]
            b.append(len(chunk))
            b += chunk
        b.append(0)
        return b

    out += image_block(base, 0, 0, 8, 8)
    # GCE: transparent index 99, disposal 1 (leave)
    out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, (1 << 2) | 1, 5, 99, 0)
    patch = np.full((4, 4), 200, np.uint8)
    patch[1:3, 1:3] = 99  # transparent hole
    out += image_block(patch, 2, 2, 4, 4)
    out.append(0x3B)

    frames = _all_frames(bytes(out))
    assert len(frames) == 2
    assert frames[0][0, 0, 0] == 10
    f2 = frames[1][:, :, 0]
    assert f2[2, 2] == 200  # patch corner
    assert f2[3, 3] == 10  # transparent hole shows the base
    assert f2[0, 0] == 10  # outside the patch rectangle


def test_stride_and_max_frames():
    frames = _rng(5).integers(0, 256, (9, 8, 8), np.uint8)
    b = encode_gif(frames)
    assert [n for n, _ in iter_gif_frames(b, every_n=3)] == [0, 3, 6]
    assert [n for n, _ in iter_gif_frames(b, max_frames=2)] == [0, 1]
    with pytest.raises(ValueError, match="every_n"):
        next(iter_gif_frames(b, every_n=0))


def test_hostile_headers_fail_closed():
    # giant logical screen
    bad = bytearray(encode_gif(np.zeros((1, 4, 4), np.uint8)))
    struct.pack_into("<HH", bad, 6, 65535, 65535)
    with pytest.raises(ValueError, match="hostile|refusing"):
        _all_frames(bytes(bad))
    # frame rectangle outside the screen (descriptor sits at the fixed
    # offset 6 header + 7 LSD + 768 GCT for a single-frame file; byte
    # 0x2C also occurs INSIDE the gray palette, so no index() search)
    bad = bytearray(encode_gif(np.zeros((1, 4, 4), np.uint8)))
    pos = 6 + 7 + 768
    assert bad[pos] == 0x2C
    struct.pack_into("<HH", bad, pos + 1, 3, 3)  # x,y offset pushes out
    with pytest.raises(ValueError, match="rectangle"):
        _all_frames(bytes(bad))


def test_fuzz_single_byte_corruption_never_crashes():
    """Corrupted containers either decode (cosmetic) or raise ValueError —
    never any other exception (the callers' catch set)."""
    rng = _rng(9)
    base = encode_gif(rng.integers(0, 256, (2, 9, 9), np.uint8))
    for _ in range(300):
        b = bytearray(base)
        b[rng.integers(6, len(b))] ^= 1 << rng.integers(0, 8)
        try:
            _all_frames(bytes(b))
        except ValueError:
            pass


def test_truncation_fail_closed():
    base = encode_gif(_rng(4).integers(0, 256, (1, 8, 8), np.uint8))
    for cut in (7, 12, 20, len(base) // 2, len(base) - 2):
        try:
            _all_frames(base[:cut])
        except ValueError:
            pass


def test_video_operators_accept_animated_gif(spark):
    """Animated GIF flows through BOTH video operators: frame sampling
    (real frame count from the container) and subtitle OCR (glyph strips
    per frame recognized exactly)."""
    from ocr_spark.kernels.font import render_line_font
    from ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        recognize_video_frames,
        sample_frames,
    )

    texts = [f"g{i}" for i in range(6)]
    rasters = [
        (render_line_font(t)[0] * 255).astype(np.uint8) for t in texts
    ]
    wmax = max(r.shape[1] for r in rasters)
    frames = np.stack(
        [np.pad(r, ((0, 0), (0, wmax - r.shape[1]))) for r in rasters]
    )
    payload = encode_gif(frames)
    media = spark.createDataFrame(
        [(3, "u", "video", bytearray(payload), (wmax, 8, 6, None, "image/gif"))],
        MEDIA_SCHEMA,
    )
    rows = sample_frames(media, every_n=2).collect()
    assert sorted(r.frame_no for r in rows) == [0, 2, 4]
    texts_out = {
        r.frame_no: r.text for r in recognize_video_frames(media).collect()
    }
    assert texts_out == {i: texts[i] for i in range(6)}


def test_feature_extractor_gif_all_frame_checksum(spark):
    """extract_media_features: fmt sniffs 'gif', dims come from the
    container, and the checksum spans ALL composited frames."""
    from ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    frames = _rng(8).integers(0, 256, (3, 8, 12), np.uint8)
    payload = encode_gif(frames)
    media = spark.createDataFrame(
        [(1, "u", "image", bytearray(payload), (1, 1, 1, None, "image/gif"))],
        MEDIA_SCHEMA,
    )
    row = extract_media_features(media).collect()[0]
    assert row.fmt == "gif"
    assert (row.decoded_w, row.decoded_h) == (12, 8)
    assert row.pixel_sum == int(frames.astype(np.int64).sum())
