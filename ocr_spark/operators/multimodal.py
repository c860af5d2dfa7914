"""Multimodal column plumbing: binary payloads + typed metadata.

Images/audio/video ride as opaque ``binary`` columns with a typed metadata
struct. The Spark-side plumbing — schema, Arrow batching, partition
discipline — is real and tested, and so are the codecs for the FIVE
container families the engine carries natively (all pure-stdlib, all
signature-sniffed): PNG (full color-type/depth matrix incl. palette +
Adam7) + JPEG (baseline + progressive) images, GIF palette images AND
animations (``kernels.gif`` — the web's most common lightweight video
container), RIFF/PCM + G.711 WAV audio (``kernels.wav``), DIB + MJPG
AVI video (``kernels.avi``). Only containers outside that family (WebP,
mp3/ogg, mp4 — codecs genuinely absent here) fall back to a
deterministic sha256-seeded fake, honestly labeled ``fmt='fake'``. The
fused pipeline (``operators/pipeline.py``) decodes, normalizes and
recognizes the embedded strips through the same decode seam, so the
full binary → decode → normalize → recognize chain runs on real
container parses end-to-end.

Scale notes: payload columns are wide — every operator here projects the
binary column away as soon as features are extracted, so downstream stages
shuffle only the small feature columns (the same "drop the html blob early"
rule as the extraction path). ``mapInPandas`` with bounded Arrow batches
keeps peak task memory at batch_size × payload_size.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.kernels.image import decode_gray, sniff

# containers whose frames the video operators decode
_VIDEO_FMTS = ("avi", "gif")

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("content_type", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        # container format by sniff: 'png'|'jpeg'|'gif'|'avi'|'wav'|'fake'
        T.StructField("fmt", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("payload_crc", T.LongType()),
        # dimensions of the DECODED raster — for PNG/JPEG payloads these
        # come from the parsed IHDR/SOF0, proving a real container decode
        # happened (for stub-decoded payloads they echo the advisory meta)
        T.StructField("decoded_w", T.IntegerType()),
        T.StructField("decoded_h", T.IntegerType()),
        # sum of the decoded 8-bit raster — a full-decode checksum (for
        # JPEG the oracle predicts it closed-form on DC-exact fixtures)
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 16


def decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Image codec seam: PNG, JPEG and GIF payloads decode FOR REAL;
    other containers fall back to the deterministic fake.

    Signature-sniffed bytes go through ``kernels.image.decode_gray`` and
    the engine's own pure-stdlib decoders behind it (``kernels.png``
    RFC-2083, ``kernels.jpeg`` T.81, ``kernels.gif`` first frame — the
    analog of the reference's ``cv2.imread`` scan,
    ``/root/reference/test_img.py:38-43``, whose flagship input IS a
    JPEG); color images are reduced to luma by channel mean. The declared
    meta width/height are advisory — the parsed IHDR/SOF0/GIF-descriptor
    dimensions win (real metadata can lie; the bytes cannot). Payloads
    outside the native families (WebP — codec not available in this
    container) keep the sha256-seeded deterministic fake, honestly
    labeled: the (H, W) float32 [0,1] contract is identical either way.
    """
    img = decode_gray(payload)
    if img is not None:
        return img
    digest = hashlib.sha256(payload).digest()
    seed = np.frombuffer(digest, dtype=np.uint8).astype(np.float32)
    n = width * height
    reps = int(np.ceil(n / len(seed)))
    pix = np.tile(seed, reps)[:n] / 255.0
    return pix.reshape(height, width)


def _pool_bands(img: np.ndarray) -> np.ndarray:
    """FEATURE_DIM column-band means; images narrower than FEATURE_DIM are
    edge-padded first so no band is empty (empty-band mean is NaN, which
    would poison downstream similarity math). Degenerate rasters (zero
    width OR height — decode_png legitimately yields them for zero-dim
    headers) pool to the all-zero feature: np.pad(mode='edge') raises on
    an empty axis and a zero-height mean is NaN, both of which would
    violate the skip-never-crash/no-NaN discipline."""
    if img.size == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    if img.shape[1] < FEATURE_DIM:
        img = np.pad(
            img, ((0, 0), (0, FEATURE_DIM - img.shape[1])), mode="edge"
        )
    bands = np.array_split(img, FEATURE_DIM, axis=1)
    return np.array([b.mean() for b in bands], dtype=np.float32)


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, kinds, fmts, sizes, crcs = [], [], [], [], []
        dws, dhs, psums, feats = [], [], [], []
        for mid, kind, payload, meta in zip(
            pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
        ):
            if payload is None or meta is None:
                continue  # failed fetch: no feature row, never a task crash
            payload = bytes(payload)
            w = int(meta["width"] or 16)
            h = int(meta["height"] or 16)
            frame_sum = None
            fmt = sniff(payload)
            try:
                if fmt in _VIDEO_FMTS:
                    # video container (AVI: DIB or MJPG; GIF: palette
                    # image or animation). The checksum spans ALL frames
                    # — it only exists after the full container decode —
                    # while dims and the pooled feature come from frame 0.
                    # Streamed: peak memory is one frame, not N.
                    frame_sum = 0
                    img = None
                    for _no, frame in _iter_gray_frames(payload):
                        frame_sum += int(frame.astype(np.int64).sum())
                        if img is None:
                            img = frame.astype(np.float32) / 255.0
                    if img is None:
                        continue
                elif fmt == "wav":
                    # audio container: real WAV parse (PCM or G.711). The
                    # checksum is the int16-scale sample sum — it only
                    # exists after the RIFF walk + sample decode; dims are
                    # (1, n_samples), the 1-D analog of a raster.
                    from ocr_spark.kernels.wav import decode_wav

                    samples, _sr = decode_wav(payload)
                    img = samples.reshape(1, -1)
                    frame_sum = int(
                        np.rint(samples * 32767.0).astype(np.int64).sum()
                    )
                else:
                    img = decode_image(payload, w, h)
                    fmt = fmt or "fake"
            except (ValueError, zlib.error):
                continue  # truncated/corrupt container: skip, never crash
            # 16-dim pooled feature: column-band means (a fixed pooling —
            # the place a real embedding model plugs in)
            feat = _pool_bands(img)
            ids.append(int(mid))
            kinds.append(kind)
            fmts.append(fmt)
            sizes.append(len(payload))
            crcs.append(zlib.crc32(payload))
            dhs.append(int(img.shape[0]))
            dws.append(int(img.shape[1]))
            # decode checksum over the 8-bit raster; the decoded floats
            # are exact v/255 multiples so rint recovers the byte values
            psums.append(
                frame_sum
                if frame_sum is not None
                else int(np.rint(img * 255.0).astype(np.int64).sum())
            )
            feats.append(feat.tolist())
        if ids:  # empty frames with array columns break Arrow conversion
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kinds,
                    "fmt": fmts,
                    "payload_bytes": sizes,
                    "payload_crc": crcs,
                    "decoded_w": dws,
                    "decoded_h": dhs,
                    "pixel_sum": psums,
                    "feature": feats,
                }
            )


def extract_media_features(media: DataFrame) -> DataFrame:
    """media table → per-item pooled features; binary column dropped at the
    stage boundary (downstream shuffles never carry payloads)."""
    slim = media.select("media_id", "kind", "payload", "meta")
    return slim.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)


def _iter_gray_frames(payload: bytes, every_n: int = 1):
    """(frame_no, (H, W) uint8 gray) for the native VIDEO containers —
    AVI (DIB/MJPG) and animated GIF — decoded lazily (one frame in
    memory). Yields nothing for other payloads; raises ValueError on
    malformed containers (callers wrap iteration in skip-never-crash)."""
    fmt = sniff(payload)
    if fmt == "avi":
        from ocr_spark.kernels.avi import iter_avi_frames

        yield from iter_avi_frames(payload, every_n=every_n)
    elif fmt == "gif":
        from ocr_spark.kernels.gif import iter_gif_frames

        for no, rgb in iter_gif_frames(payload, every_n=every_n):
            yield no, np.rint(
                rgb.astype(np.float32).mean(axis=2)
            ).astype(np.uint8)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_crc", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling for video rows: one output row per kept frame.

    Video codec seam: RIFF/AVI payloads decode FOR REAL via the engine's
    uncompressed-DIB parser (``kernels.avi`` — frame count, dimensions and
    pixels all come from the container; advisory meta loses). Other
    containers (mp4 etc. — codecs not here) keep the deterministic
    sha256-per-frame fake. Real plumbing either way: the row explosion
    (one media row → n_frames/every_n frame rows), per-frame features,
    and the payload column dropped before the rows multiply — at scale
    the frame table is orders of magnitude taller than the media table
    and must never carry the source bytes.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fnos, crcs, feats = [], [], [], []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                if payload is None or meta is None:
                    continue
                payload = bytes(payload)
                if sniff(payload) in _VIDEO_FMTS:
                    # lazy per-frame decode: one raster in memory at a
                    # time, skipped frames never pay entropy decode; the
                    # per-payload buffer holds only (frame_no, crc, feat)
                    # rows so a corrupt container still yields NO rows
                    # (atomic skip, matching the eager semantics)
                    buf = []
                    try:
                        for f, raster in _iter_gray_frames(
                            payload, every_n=every_n
                        ):
                            img = raster.astype(np.float32) / 255.0
                            buf.append(
                                (
                                    f,
                                    zlib.crc32(raster.tobytes()),
                                    _pool_bands(img).tolist(),
                                )
                            )
                    except ValueError:
                        continue  # corrupt container: skip, never crash
                    for f, crc, feat in buf:
                        ids.append(int(mid))
                        fnos.append(f)
                        crcs.append(crc)
                        feats.append(feat)
                    continue
                n_frames = int(meta["n_frames"] or 1)
                for f in range(0, n_frames, every_n):
                    frame_bytes = hashlib.sha256(
                        payload + f.to_bytes(4, "big")
                    ).digest()
                    img = decode_image(frame_bytes, 16, 16)
                    feat = _pool_bands(img)
                    ids.append(int(mid))
                    fnos.append(f)
                    crcs.append(zlib.crc32(frame_bytes))
                    feats.append(feat.tolist())
            if ids:
                yield pd.DataFrame(
                    {
                        "media_id": ids,
                        "frame_no": fnos,
                        "frame_crc": crcs,
                        "feature": feats,
                    }
                )

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload", "meta"
    ).mapInPandas(fn, schema=FRAMES_SCHEMA)


FRAME_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def recognize_video_frames(
    media: DataFrame, every_n: int = 1, decoder: str = "greedy"
) -> DataFrame:
    """Video-subtitle OCR: decode each AVI (raw DIB or MJPG), run the
    font recognizer over every sampled frame, emit one (media_id,
    frame_no, text) row per frame — the video analog of the strip
    recognizer (burned-in subtitles / slide text / terminal captures).

    Only 8-pixel-tall frames are recognizable (the glyph-strip geometry);
    other heights and corrupt containers skip, never crash. Frames of one
    payload are recognized as ONE batch (the NCC kernel is vectorized
    over [B, 8, W]); the payload is dropped before rows multiply, and the
    whole operator is map-only — no shuffle at any scale. The 94-char
    vocabulary has no space class (cropped-line OCR, reference
    semantics), so recognized text is the concatenated glyph stream.
    """
    from ocr_spark.kernels.font import GLYPH_H, recognize_lines_font

    # recognition sub-batch: frames stream off the lazy decoder and are
    # recognized RECOG_BATCH at a time, so peak memory is bounded by the
    # sub-batch (not the video length) while the NCC kernel still runs
    # vectorized over [B, 8, W]
    RECOG_BATCH = 128

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fnos, texts = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                payload = bytes(payload)
                if sniff(payload) not in _VIDEO_FMTS:
                    continue
                out: list[tuple[int, str]] = []
                kept: list[tuple[int, np.ndarray]] = []

                def flush():
                    if not kept:
                        return
                    batch = np.stack(
                        [fr.astype(np.float32) / 255.0 for _, fr in kept]
                    )
                    widths = [batch.shape[2]] * len(kept)
                    decoded = recognize_lines_font(
                        batch, widths, decoder=decoder
                    )
                    out.extend(
                        (f, text) for (f, _), text in zip(kept, decoded)
                    )
                    kept.clear()

                try:
                    # lazy per-frame decode: a skipped (stride) frame never
                    # pays entropy decode, peak memory is one raster plus
                    # the RECOG_BATCH recognition window
                    for f, frame in _iter_gray_frames(payload, every_n=every_n):
                        if frame.shape[0] != GLYPH_H or not frame.size:
                            continue
                        kept.append((f, frame))
                        if len(kept) >= RECOG_BATCH:
                            flush()
                    flush()
                except ValueError:
                    continue  # corrupt container: skip, never crash
                for f, text in out:
                    ids.append(int(mid))
                    fnos.append(f)
                    texts.append(text)
            if ids:
                yield pd.DataFrame(
                    {"media_id": ids, "frame_no": fnos, "text": texts}
                )

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload"
    ).mapInPandas(fn, schema=FRAME_TEXT_SCHEMA)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests — every kind carries a
    REAL container: IMAGE rows alternate PNG and baseline JPEG (16×16
    grayscale, sha256-derived pixels, ``kernels.png``/``kernels.jpeg``),
    AUDIO rows are 16-bit PCM WAVs (one 16 kHz second, ``kernels.wav``),
    VIDEO rows are uncompressed 16-frame AVIs (``kernels.avi``); all four
    decode paths exercise actual container parses end-to-end."""
    from ocr_spark.kernels.avi import encode_avi
    from ocr_spark.kernels.jpeg import encode_jpeg
    from ocr_spark.kernels.png import encode_png
    from ocr_spark.kernels.wav import encode_wav

    rows = []
    for i in range(n):
        seed = hashlib.sha256(f"media-{i}".encode()).digest() * 8
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            pix = np.frombuffer(seed, dtype=np.uint8)[: 16 * 16].reshape(16, 16)
            payload = (
                encode_png(pix) if (i // 3) % 2 == 0
                else encode_jpeg(pix, quality=90)
            )
        elif kind == "audio":
            base = np.frombuffer(seed, dtype=np.uint8).astype(np.float32)
            wave = (np.tile(base, 16000 // len(base) + 1)[:16000] / 127.5) - 1.0
            payload = encode_wav(wave, sample_rate=16000)
        else:
            base = np.frombuffer(seed, dtype=np.uint8)
            frames = np.stack(
                [
                    np.roll(base, f)[: 16 * 16].reshape(16, 16)
                    for f in range(16)
                ]
            )
            payload = encode_avi(frames)
        rows.append(
            (
                i,
                f"https://media.example.com/{i}",
                kind,
                bytearray(payload),
                (16, 16, 1 if kind == "image" else 16, 16000, f"x/{kind}"),
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
