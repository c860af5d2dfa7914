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

``recognizer_fn`` is the one recognizer table: name → batched
``(strips, widths) → texts`` callable. ``extract_full`` and the OCR
contract queries bind it when the query is built, so an unknown name
fails before any job, and every strip is recognized in the worker that
produced it.
"""

from __future__ import annotations

import base64
import re
import zlib
from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ocr_spark.config import BLOCK_SEPARATOR, LINE_HEIGHT, MAX_LINE_WIDTH
from ocr_spark.kernels.image import decode_gray

_WIDTH_RE = re.compile(r'data-width="(\d+)"')
_STRIP_RE = re.compile(r'data-strip="([A-Za-z0-9+/=]*)"')
_EMPTY_STRIP = np.zeros((LINE_HEIGHT, MAX_LINE_WIDTH), np.float32)
_EMPTY_RASTER = np.zeros((0, 0), np.float32)

# recognizer name → font decoder; "conv" is the code-glyph matched filter
_FONT_DECODERS = {
    "font": "greedy",
    "font_beam": "beam",
    "font_beam_lm": "beam_lm",
    "font_beam_bi": "beam_bi",
}
_RECOGNIZERS = ("conv", *_FONT_DECODERS)

Recognizer = Callable[[np.ndarray, np.ndarray], list[str]]


def recognizer_fn(recognizer: str) -> Recognizer:
    """``recognizer`` → batched ``(strips [B, 8, 384], widths) → texts``;
    an unknown name raises ``ValueError``, so callers bind it when the
    query is built, before any job runs.
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
    if recognizer not in _RECOGNIZERS:
        raise ValueError(
            f"unknown recognizer {recognizer!r}; expected one of {_RECOGNIZERS}"
        )
    if recognizer == "conv":
        from ocr_spark.kernels.ocr import recognize_lines

        return recognize_lines
    from ocr_spark.kernels.font import recognize_lines_font

    return partial(recognize_lines_font, decoder=_FONT_DECODERS[recognizer])


def _img_strips(html_text: str):
    """Yield (width, payload) per ``<img`` tag holding ``data-width="W"``
    then ``data-strip="B64"`` (a base64 PNG, JPEG or GIF line written by
    the fixture generator) before its first ``>``: the stand-in for the
    reference's detection head over image content. Forward-only cursors
    on the next ``>``, width and strip keep the scan linear on ``<img``
    soup, where a lazy regex over the tag backtracks cubically."""
    find, n = html_text.find, len(html_text)
    none = (n + 1, n + 1, "")  # no match at or after any later position
    gt, w, s = -1, (-1, -1, ""), (-1, -1, "")
    p = find("<img")
    while p >= 0:
        a = p + 4
        if gt < a:
            gt = find(">", a)
            gt = n if gt < 0 else gt
        if w[0] < a:
            m = _WIDTH_RE.search(html_text, a)
            w = (m.start(), m.end(), m.group(1)) if m else none
        if w[0] < gt:
            if s[0] < w[1]:
                m = _STRIP_RE.search(html_text, w[1])
                s = (m.start(), m.end(), m.group(1)) if m else none
            if s[0] < gt:
                yield int(w[2]), s[2]
                p = find("<img", s[1])
                continue
        p = find("<img", p + 1)


def _lines_of_doc(html_text: str):
    """Yield (line_id, strip, width) for every embedded line of ONE decoded
    document (malformed payloads are skipped, never crash a task). Strips
    of any height are resampled through ``normalize_strip`` (the RoIRotate
    analog: arbitrary-height crop → fixed 8×⌈8w/h⌉ pad-384 geometry, the
    reference's ``Module/RRotateLayer.py:94-107``)."""
    from ocr_spark.kernels.ocr import normalize_strip

    for i, (width, b64) in enumerate(_img_strips(html_text)):
        try:
            payload = base64.b64decode(b64)
            # an empty payload is a zero-size raster (the slot rule below)
            img = decode_gray(payload) if payload else _EMPTY_RASTER
        except (ValueError, zlib.error):
            continue  # bad base64 or corrupt container: skip the image
        if img is None:
            continue  # not an image container: skip the image
        # dimensions come from the container header, not the attributes
        # (bytes cannot lie; attributes can)
        ph, pw = img.shape
        if ph == LINE_HEIGHT:
            # already strip-height: use the REAL decoded width — an 8-tall
            # image narrower than the pad width is a valid line and must
            # not be dropped for not being exactly 8×384
            pw = min(pw, MAX_LINE_WIDTH)
            strip = _EMPTY_STRIP.copy()
            strip[:, :pw] = img[:, :pw]
            yield i, strip, pw
            continue
        # crop to the declared content width before resampling (RoIRotate
        # crops the box before the affine resample), bounded by the real
        # raster. A zero crop (empty or degenerate raster, or declared
        # width 0) with declared width 0 is a detected-but-empty region
        # and keeps its slot in reading order (an empty recognized line
        # still separates its neighbors — the extract_full oracle
        # semantics); with a nonzero declared width it is malformed
        cw = min(width, pw)
        if ph == 0 or cw == 0:
            if width == 0:
                yield i, _EMPTY_STRIP.copy(), 0
            continue
        strip, out_w = normalize_strip(img[:, :cw], mode="bilinear")
        yield i, strip, out_w


def _fused_stage(recognize: Recognizer):
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

        for pdf in batches:
            parts, owners, strips, widths = [], [], [], []
            for doc, html in enumerate(pdf["html"]):
                decoded = decode_html(bytes(html))
                block_text = extract_main_text(decoded)[0]
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
    "font_beam_bi" (see ``recognizer_fn``); anything else raises
    ``ValueError`` before a job runs. Physical plan: one scan of pages,
    one map stage that detects, recognizes and assembles in Python, and
    no exchange over the source (asserted in tests/test_pipeline.py).
    """
    return pages.select("url", "html").mapInPandas(
        _fused_stage(recognizer_fn(recognizer)),
        schema="url string, extracted_text string",
    )
