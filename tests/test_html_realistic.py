"""Realistic page-shape fixtures with hand-specified expected main text
(byte-identical). The corpus lives in ``ocr_spark.fixtures.wild_html`` and
is also the driver-facing ``extract_html_wild`` contract query — this test
exercises every case through the kernel directly."""

from __future__ import annotations

import pytest

from ocr_spark.fixtures.wild_html import WILD_CASES
from ocr_spark.kernels.html import extract_main_text


@pytest.mark.parametrize(
    "fid,name,html,expected",
    WILD_CASES,
    ids=[c[1] for c in WILD_CASES],
)
def test_wild_extraction_byte_identical(fid, name, html, expected):
    raw = html if isinstance(html, bytes) else html.encode("utf-8")
    got, spans, n_blocks, _ = extract_main_text(raw)
    assert got == expected, f"{name}:\nGOT: {got!r}\nEXP: {expected!r}"


def test_corpus_shape():
    """Fixture ids are dense and unique (the contract query keys on them);
    only the SPA-shell case expects empty text."""
    ids = [c[0] for c in WILD_CASES]
    assert ids == list(range(len(WILD_CASES)))
    empties = [c[0] for c in WILD_CASES if not c[3]]
    assert empties == [21, 28]
    assert len(WILD_CASES) >= 32


def test_wild_spans_cover_extracted_text():
    """Char-span invariants hold on every wild layout: spans are in-bounds
    of the SOURCE text, non-overlapping, ordered, and each span's source
    slice appears verbatim in the extracted text."""
    for fid, name, html, expected in WILD_CASES:
        raw = html if isinstance(html, bytes) else html.encode("utf-8")
        text, spans, n_blocks, _ = extract_main_text(raw)
        assert len(spans) == n_blocks, name
        prev_end = -1
        for start, end in spans:
            assert 0 <= start < end, (name, start, end)
            assert start > prev_end, (name, "overlap/disorder")
            prev_end = end
