"""Fused full pipeline: HTML branch + embedded-image OCR branch → merged
per-document text.

This is the engine's analog of the reference's complete flow
(``/root/reference/test_img.py``): detect text regions (HTML blocks AND
image-embedded lines), recognize the image lines in batches, and assemble
everything in reading order. Dataflow (ONE corpus scan, ONE map stage,
ZERO shuffles):

    pages → mapInPandas(decode once → html-extract + line-detect
                        → recognize every strip of the Arrow batch in
                          one call → assemble each page)   [scan, map-side]

Scale shape: both detections run on the SAME decoded document in the same
pass (charset-sniffed once via ``kernels.charset.decode_html``), and
recognition runs in the worker that decoded the strips, the way FOTS'
RoIRotate feeds recognition from the detection pass. Strips never leave
the Python worker, so nothing but (url, html) crosses Arrow on the way in
and (url, extracted_text) on the way out. Recognition batches across ALL
pages' lines in the Arrow batch (the RECOG_BATCH discipline,
``/root/reference/test_img.py:97-116``, but batched across documents
instead of within one). Assembly is plain Python per page, so the stage
emits one row per input page (the ``extract_pages`` contract) and adds
no exchange over its source.
"""

from __future__ import annotations

import base64
import re
import zlib
from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ocr_spark.config import BLOCK_SEPARATOR, LINE_HEIGHT, MAX_LINE_WIDTH
from ocr_spark.kernels.jpeg import JPEG_MAGIC, jpeg_to_gray_float
from ocr_spark.kernels.png import PNG_MAGIC, png_to_gray_float

# embedded-line detector: the stand-in for the reference's detection head
# over image content (score map → boxes); here lines announce themselves
# via the data-strip attribute written by the fixture generator. Optional
# data-height marks a strip rendered at a height other than 8 — the detect
# stage resamples it through ``normalize_strip`` (the RoIRotate analog:
# arbitrary-height crop → fixed 8×⌈8w/h⌉ pad-384 geometry,
# ``/root/reference/Module/RRotateLayer.py:94-107``).
_IMG_RE = re.compile(
    r'<img[^>]*?data-width="(\d+)"[^>]*?'
    r'(?:data-height="(\d+)"[^>]*?)?data-strip="([A-Za-z0-9+/=]*)"'
)


def _lines_of_doc(html_text: str):
    """Yield (line_id, strip, width) for every embedded line of ONE decoded
    document (malformed payloads are skipped, never crash a task)."""
    from ocr_spark.kernels.ocr import normalize_strip

    for i, m in enumerate(_IMG_RE.finditer(html_text)):
        width = int(m.group(1))
        height = int(m.group(2)) if m.group(2) else LINE_HEIGHT
        try:
            payload = base64.b64decode(m.group(3))
        except Exception:
            continue  # bad padding/length: skip the image, never the task
        img = None
        if payload.startswith(PNG_MAGIC):
            try:
                img = png_to_gray_float(payload)
            except (ValueError, zlib.error):
                continue  # corrupt PNG: skip the image, never the task
        elif payload.startswith(JPEG_MAGIC):
            try:
                img = jpeg_to_gray_float(payload)
            except ValueError:
                continue  # corrupt JPEG: skip the image, never the task
        elif payload[:6] in (b"GIF87a", b"GIF89a"):
            try:
                from ocr_spark.kernels.gif import iter_gif_frames

                for _no, rgb in iter_gif_frames(payload, max_frames=1):
                    img = rgb.astype(np.float32).mean(axis=2) / 255.0
                    break
            except ValueError:
                continue  # corrupt GIF: skip the image, never the task
        if img is not None:
            # real container (PNG or baseline JPEG): dimensions come from
            # the IHDR/SOF0, not the attributes (bytes cannot lie;
            # attributes can). Shared normalization with the media seam
            # (png/jpeg_to_gray_float) so the decode paths cannot drift.
            ph, pw = img.shape
            if ph == LINE_HEIGHT:
                # already strip-height: use the REAL decoded width — an
                # 8-tall PNG narrower than the pad width is a valid line
                # and must not be dropped for not being exactly 8×384
                pw = min(pw, MAX_LINE_WIDTH)
                strip = np.zeros((LINE_HEIGHT, MAX_LINE_WIDTH), np.float32)
                strip[:, :pw] = img[:, :pw]
                yield i, strip, pw
            else:
                # crop to the declared content width before resampling
                # (RoIRotate crops the box before the affine resample),
                # bounded by the real raster; a zero crop (degenerate
                # raster, or declared width 0) is the uniform zero-width
                # line slot — same rule as the raw-payload branch
                cw = min(width, pw)
                if ph == 0 or cw == 0:
                    if width == 0:
                        yield i, np.zeros(
                            (LINE_HEIGHT, MAX_LINE_WIDTH), np.float32
                        ), 0
                    continue  # pixels but no declared width: malformed
                strip, out_w = normalize_strip(
                    img[:, :cw], mode="bilinear"
                )
                yield i, strip, out_w
            continue
        raw = (
            np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
            / 255.0
        )
        if raw.size == 0:
            # uniform empty-payload rule for BOTH geometry branches (and
            # both containers): no pixel data with a declared nonzero
            # width is malformed → skip; a zero-width line is a
            # legitimately detected-but-empty region and keeps its slot
            # in reading order (an empty recognized line still separates
            # its neighbors — the extract_full oracle semantics)
            if width != 0:
                continue
            yield i, np.zeros((LINE_HEIGHT, MAX_LINE_WIDTH), np.float32), 0
            continue
        if height == LINE_HEIGHT:
            if raw.size != LINE_HEIGHT * MAX_LINE_WIDTH:
                continue  # malformed payload: skip, never crash
            strip = raw.reshape(LINE_HEIGHT, MAX_LINE_WIDTH)
        else:
            if raw.size % height != 0:
                continue
            tall = raw.reshape(height, raw.size // height)
            # crop to true content width before resampling, as
            # RoIRotate crops the box before the affine resample
            tall = tall[:, :width]
            # bilinear (transformer.py semantics): identical to nearest on
            # the integer-scaled fixtures (tests/test_bilinear.py), correct
            # on non-integer scales where nearest aliases
            strip, width = normalize_strip(tall, mode="bilinear")
        yield i, strip, width


# recognizer name → font decoder; "conv" is the code-glyph matched filter
_FONT_DECODERS = {
    "font": "greedy",
    "font_beam": "beam",
    "font_beam_lm": "beam_lm",
    "font_beam_bi": "beam_bi",
}
_RECOGNIZERS = ("conv", *_FONT_DECODERS)


def _recognize_fn(recognizer: str):
    """``recognizer`` → batched ``(strips [B, 8, 384], widths) → texts``.
    "conv" = the code-glyph matched filter (``kernels.ocr``), "font" = the
    bitmap-atlas NCC recognizer (``kernels.font``) for anti-aliased /
    noisy imagery, "font_beam" = the same NCC scores decoded by CTC prefix
    beam search (alignment-summing), "font_beam_lm" = beam + the fixed
    glyph-bigram context prior (the BiLSTM-analog; recovers O/0 and l/1
    confusions at noise levels where per-window evidence fails),
    "font_beam_bi" = bidirectional context (left prior in-beam +
    right-context N-best rescoring — the full BiLSTM analog; fixes LEADING
    ambiguous glyphs the forward prior cannot). The context decoders are
    default-off: measured exact-equal to greedy at contract noise,
    strictly better only on degraded inputs (tests/test_font_ocr.py)."""
    if recognizer == "conv":
        from ocr_spark.kernels.ocr import recognize_lines

        return recognize_lines
    from ocr_spark.kernels.font import recognize_lines_font

    return partial(recognize_lines_font, decoder=_FONT_DECODERS[recognizer])


def _fused_stage(recognizer: str):
    def _extract_and_detect(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        """Decode each document ONCE (charset sniffing), run the HTML block
        extraction AND the embedded-line detection on the same decoded
        string, recognize every strip of the batch in one call, and
        assemble each page: the html block (dropped when empty), then the
        recognized lines in image order (an empty line keeps its slot),
        joined with BLOCK_SEPARATOR."""
        from ocr_spark.kernels.charset import decode_html
        from ocr_spark.kernels.html import extract_main_text

        recognize = _recognize_fn(recognizer)
        for pdf in batches:
            parts, owners, strips, widths = [], [], [], []
            for doc, html in enumerate(pdf["html"]):
                decoded = decode_html(bytes(html))
                block_text, _, _ = extract_main_text(decoded)
                parts.append([block_text] if block_text else [])
                for _i, strip, width in _lines_of_doc(decoded):
                    owners.append(doc)
                    strips.append(strip)
                    widths.append(width)
            if strips:
                texts = recognize(np.stack(strips), np.asarray(widths, np.int64))
                for doc, text in zip(owners, texts):
                    parts[doc].append(text)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "extracted_text": [BLOCK_SEPARATOR.join(p) for p in parts],
                }
            )

    return _extract_and_detect


def extract_full(pages: DataFrame, recognizer: str = "conv") -> DataFrame:
    """Complete extraction: HTML text + recognized embedded lines, merged.

    Output (url, extracted_text), one row per input page: the html blocks
    first (document order; dropped when the page has none), then the
    recognized lines in image order (an empty recognized line keeps its
    slot — a detected region that decodes to nothing still separates its
    neighbors, and the extract_full oracles encode exactly that), all
    joined with BLOCK_SEPARATOR — the reading-order contract of the
    reference's result sink (its ``test_img.py:121-132``).
    ``recognizer`` is "conv", "font", "font_beam", "font_beam_lm" or
    "font_beam_bi" (see ``_recognize_fn``); anything else raises
    ``ValueError`` before a job runs. Physical plan: one scan of pages,
    one map stage that detects, recognizes and assembles in Python, and
    no exchange over the source (asserted in tests/test_pipeline.py).
    """
    if recognizer not in _RECOGNIZERS:
        raise ValueError(
            f"unknown recognizer {recognizer!r}; expected one of {_RECOGNIZERS}"
        )
    return pages.select("url", "html").mapInPandas(
        _fused_stage(recognizer), schema="url string, extracted_text string"
    )
