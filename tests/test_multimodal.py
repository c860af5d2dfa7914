"""Multimodal plumbing: feature extraction and frame sampling."""

from __future__ import annotations

import pyspark.sql.functions as F

from ocr_spark.operators.multimodal import (
    extract_media_features,
    sample_frames,
    synth_media,
)


def test_media_features_deterministic(spark):
    m = synth_media(spark, 24)
    a = {r.media_id: (r.payload_crc, tuple(r.feature)) for r in extract_media_features(m).collect()}
    b = {r.media_id: (r.payload_crc, tuple(r.feature)) for r in extract_media_features(m).collect()}
    assert a == b and len(a) == 24


def test_sample_frames(spark):
    m = synth_media(spark, 24)
    out = sample_frames(m, every_n=4)
    rows = out.collect()
    # videos: every 3rd row (media_id % 3 == 2), n_frames=16, every 4th frame
    assert len(rows) == 8 * 4
    per = out.groupBy("media_id").count().collect()
    assert all(r["count"] == 4 for r in per)
    assert {r.frame_no for r in rows} == {0, 4, 8, 12}
    # distinct frames hash differently
    one = [r for r in rows if r.media_id == rows[0].media_id]
    assert len({r.frame_crc for r in one}) == 4


def test_feature_fmt_sniff_and_jpeg_decode(spark):
    """Image rows alternate PNG and JPEG containers; the feature extractor
    reports the sniffed fmt and decodes BOTH for real (dims come from the
    container, pixel_sum from the decoded raster)."""
    m = synth_media(spark, 24)
    rows = {r.media_id: r for r in extract_media_features(m).collect()}
    img_ids = [i for i in range(24) if i % 3 == 0]
    fmts = {i: rows[i].fmt for i in img_ids}
    assert set(fmts.values()) == {"png", "jpeg"}
    for i in img_ids:
        r = rows[i]
        assert (r.decoded_w, r.decoded_h) == (16, 16)
        assert r.pixel_sum is not None and r.pixel_sum > 0
    # audio WAV decodes for real: (1, n_samples) dims, int16-scale sum;
    # video AVI decodes for real: dims from frame 0, checksum over ALL
    # 16 frames (so it dwarfs a single 16×16 frame's max sum)
    assert rows[1].fmt == "wav"
    assert (rows[1].decoded_w, rows[1].decoded_h) == (16000, 1)
    assert rows[2].fmt == "avi"
    assert (rows[2].decoded_w, rows[2].decoded_h) == (16, 16)
    assert rows[2].pixel_sum > 16 * 16 * 255


def test_recognize_video_frames_both_codecs(spark):
    """Burned-in subtitle OCR: raw-DIB and MJPG AVIs of rendered glyph
    strips decode back to the exact frame texts, one row per frame."""
    import numpy as np

    from ocr_spark.kernels.avi import encode_avi
    from ocr_spark.kernels.font import render_line_font
    from ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        recognize_video_frames,
    )

    texts = ["HELLO,WORLD:42", "Subtitle+line-two!", "third*FRAME(ok)?"]
    frames = np.stack(
        [(render_line_font(t)[0] * 255).astype(np.uint8) for t in texts]
    )
    rows = [
        (0, "u0", "video", bytearray(encode_avi(frames)),
         (384, 8, 3, None, "video/avi")),
        (1, "u1", "video", bytearray(encode_avi(frames, codec="mjpg")),
         (384, 8, 3, None, "video/avi")),
        # corrupt payload: skipped, never crashes the batch
        (2, "u2", "video", bytearray(b"RIFF\x10\x00\x00\x00AVI junk"),
         (0, 0, 0, None, "video/avi")),
        # wrong-geometry frames (16 px tall): no recognizable rows
        (3, "u3", "video",
         bytearray(encode_avi(np.zeros((2, 16, 16), dtype=np.uint8))),
         (16, 16, 2, None, "video/avi")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = recognize_video_frames(media).collect()
    per = {}
    for r in got:
        per.setdefault(r.media_id, {})[r.frame_no] = r.text
    assert set(per) == {0, 1}
    for mid in (0, 1):
        assert [per[mid][f] for f in range(3)] == texts


def test_recognize_video_frames_sampling(spark):
    import numpy as np

    from ocr_spark.kernels.avi import encode_avi
    from ocr_spark.kernels.font import render_line_font
    from ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        recognize_video_frames,
    )

    texts = [f"frame{i}" for i in range(6)]
    frames = np.stack(
        [(render_line_font(t)[0] * 255).astype(np.uint8) for t in texts]
    )
    media = spark.createDataFrame(
        [(7, "u", "video", bytearray(encode_avi(frames, codec="mjpg")),
          (384, 8, 6, None, "video/avi"))],
        MEDIA_SCHEMA,
    )
    got = recognize_video_frames(media, every_n=2).collect()
    assert {(r.frame_no, r.text) for r in got} == {
        (0, "frame0"), (2, "frame2"), (4, "frame4")
    }
