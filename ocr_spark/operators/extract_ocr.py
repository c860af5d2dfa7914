"""OCR-branch Spark operator: line-strip table → decoded text rows, and the
recognizer table it shares with the fused pipeline (``operators.pipeline``).

One iterator-style ``mapInPandas`` stage; per Arrow batch the strips stack
into a single ``[B, 8, 384]`` tensor and the recognizer runs as batched
NumPy ops — the Arrow analog of the reference's RECOG_BATCH micro-batched
recognition loop (its ``test_img.py:97-119``).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.config import LINE_HEIGHT, MAX_LINE_WIDTH

OCR_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("line_id", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

# recognizer name → font decoder; "conv" is the code-glyph matched filter
_FONT_DECODERS = {
    "font": "greedy",
    "font_beam": "beam",
    "font_beam_lm": "beam_lm",
    "font_beam_bi": "beam_bi",
}
_RECOGNIZERS = ("conv", *_FONT_DECODERS)


def _check_recognizer(recognizer: str) -> None:
    """Reject an unknown recognizer name before any job runs."""
    if recognizer not in _RECOGNIZERS:
        raise ValueError(
            f"unknown recognizer {recognizer!r}; expected one of {_RECOGNIZERS}"
        )


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


def _recognize_batches(recognizer: str):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        recognize = _recognize_fn(recognizer)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            strips = np.stack(
                [
                    np.asarray(s, dtype=np.float32).reshape(
                        LINE_HEIGHT, MAX_LINE_WIDTH
                    )
                    for s in pdf["strip"]
                ]
            )
            texts = recognize(strips, pdf["width"].to_numpy(np.int64))
            yield pd.DataFrame(
                {"url": pdf["url"], "line_id": pdf["line_id"], "text": texts}
            )

    return fn


def recognize_line_strips(lines: DataFrame, recognizer: str = "conv") -> DataFrame:
    """lines(url, line_id, strip array<float> [8*384 flattened], width) →
    (url, line_id, text). ``recognizer`` is one of ``_RECOGNIZERS`` (see
    ``_recognize_fn``): "conv" reads strips rendered from the engine's own
    glyph code, "font" and its beam variants read anti-aliased, noisy
    imagery; anything else raises ``ValueError`` before a job runs."""
    _check_recognizer(recognizer)
    return lines.select("url", "line_id", "strip", "width").mapInPandas(
        _recognize_batches(recognizer), schema=OCR_TEXT_SCHEMA
    )
