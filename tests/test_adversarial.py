"""Adversarial page corpus through the full Spark extraction path: no
crashes, deterministic output, pathological structures bounded."""

from __future__ import annotations

import datetime
import gc
import math
import os
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyspark.sql.functions as F
import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.kernels.gif import _lzw_decode, _lzw_encode
from ocr_spark.kernels.html import tokenize_html
from ocr_spark.kernels.jpeg import decode_jpeg, encode_jpeg
from ocr_spark.operators.extract_html import extract_pages
from ocr_spark.operators.pipeline import _img_strips, _lines_of_doc
from ocr_spark.sources.pages import PAGES_SCHEMA
from tests.test_html_fast import stdlib_tokenize

TS = datetime.datetime(2024, 1, 1)


def _rows():
    return [
        ("u:empty", TS, bytearray(b""), "", "en"),
        ("u:garbage", TS, bytearray(bytes(range(256)) * 4), "", "en"),
        (
            "u:nav5000",
            TS,
            bytearray(
                (
                    "<body><nav>" + "<a href='/x'>link</a>" * 5000 + "</nav>"
                    "<p>real content words here enough to score well over the "
                    "threshold for sure</p></body>"
                ).encode()
            ),
            "",
            "en",
        ),
        (
            "u:deep200",
            TS,
            bytearray(
                (
                    "<body>" + "<div>" * 200
                    + "<p>deep content paragraph with plenty of words to be kept</p>"
                    + "</div>" * 200 + "</body>"
                ).encode()
            ),
            "",
            "en",
        ),
        (
            "u:unicode",
            TS,
            bytearray(
                "<body><p>emoji 🎉🎈 and CJK 中文字符 content with enough words "
                "to stay</p></body>".encode()
            ),
            "",
            "en",
        ),
        ("u:truncated", TS, bytearray(b"<body><div class="), "", "en"),
        (
            "u:hugetext",
            TS,
            bytearray(("<body><p>" + "word " * 200_000 + "</p></body>").encode()),
            "",
            "en",
        ),
    ]


def test_adversarial_no_crash_and_deterministic(spark):
    df = spark.createDataFrame(_rows(), PAGES_SCHEMA)
    a = {r.url: (r.extracted_text, r.n_blocks) for r in extract_pages(df).collect()}
    b = {r.url: (r.extracted_text, r.n_blocks) for r in extract_pages(df).collect()}
    assert a == b
    assert len(a) == len(_rows())
    assert a["u:empty"][1] == 0
    assert a["u:nav5000"][0].startswith("real content words")
    assert "deep content paragraph" in a["u:deep200"][0]
    assert "🎉🎈" in a["u:unicode"][0] and "中文字符" in a["u:unicode"][0]
    assert a["u:hugetext"][1] >= 1  # giant single block survives, bounded


def test_spans_cover_extracted_text(spark):
    from ocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(50)
    out = extract_pages(pages)
    rows = out.collect()
    for r in rows:
        for s in r.spans:
            assert 0 <= s.start <= s.end <= len(r.extracted_text)
        # spans tile the text exactly (separator-aware)
        total = sum(s.end - s.start for s in r.spans)
        seps = max(len(r.spans) - 1, 0) * 2  # "\n\n"
        assert total + seps == len(r.extracted_text)


def _img_rows():
    """Malformed embedded-line images through the fused pipeline: bad
    base64, truncated payloads, inconsistent data-height, zero dims —
    detection must skip each quietly and the html branch must survive."""
    good_p = "<p>real content words here enough to score well over the threshold</p>"
    return [
        ("i:badb64", TS, bytearray(
            f'<body><img data-width="24" data-strip="!!!notbase64!!!">{good_p}</body>'.encode()
        ), "", "en"),
        ("i:short", TS, bytearray(
            f'<body><img data-width="384" data-strip="AAAA">{good_p}</body>'.encode()
        ), "", "en"),
        ("i:badheight", TS, bytearray(
            f'<body><img data-width="24" data-height="7" data-strip="{"A"*100}">{good_p}</body>'.encode()
        ), "", "en"),
        ("i:zerowidth", TS, bytearray(
            f'<body><img data-width="0" data-height="16" data-strip="{"A"*128}">{good_p}</body>'.encode()
        ), "", "en"),
        # matches the strip regex but has invalid base64 padding (len 5):
        # the decode itself must be guarded, not just the size checks
        ("i:badpad", TS, bytearray(
            f'<body><img data-width="24" data-strip="AAAAA">{good_p}</body>'.encode()
        ), "", "en"),
    ]


def test_fused_pipeline_survives_malformed_images(spark):
    from ocr_spark.operators.pipeline import extract_full

    pages = spark.createDataFrame(_img_rows(), PAGES_SCHEMA)
    for recognizer in ("conv", "font"):
        out = {r.url: r.extracted_text for r in extract_full(pages, recognizer).collect()}
        assert len(out) == 5
        for url, text in out.items():
            assert "real content words" in text, (recognizer, url, text)


def test_phantom_empty_payload_with_declared_width_is_skipped(spark):
    """Empty data-strip with a NONZERO declared width is malformed and
    must be skipped entirely — not emitted as a phantom empty line slot
    adding a spurious separator."""
    from ocr_spark.kernels.charset import decode_html
    from ocr_spark.operators.pipeline import _lines_of_doc, extract_full

    good_p = "<p>real content words here enough to score well over the threshold</p>"
    pages = spark.createDataFrame(
        [("i:phantom", TS, bytearray(
            f'<body><img data-width="24" data-height="16" data-strip="">{good_p}</body>'.encode()
        ), "", "en")],
        PAGES_SCHEMA,
    )
    html = pages.select("html").collect()[0].html
    assert list(_lines_of_doc(decode_html(bytes(html)))) == []
    out = extract_full(pages).collect()[0].extracted_text
    assert out == "real content words here enough to score well over the threshold"


@settings(max_examples=120, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_fuzz_extract_main_text_never_raises(data):
    """The extractor runs over raw crawl bytes — arbitrary input must
    yield (str, spans, int, char counts), never an exception (one hostile
    page must not kill a 10^12-document task)."""
    from ocr_spark.kernels.html import extract_main_text

    text, spans, n_blocks, _ = extract_main_text(data)
    assert isinstance(text, str) and isinstance(n_blocks, int)


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=400))
def test_fuzz_extract_main_text_unicode_soup(fragment):
    """Unicode soup wrapped in plausible tags: still total, still a str."""
    from ocr_spark.kernels.html import extract_main_text

    html = f"<body><main><article><p>{fragment}</p></article></main></body>"
    text, spans, n_blocks, _ = extract_main_text(html.encode("utf-8"))
    assert isinstance(text, str)


# ---------------------------------------------------------------------------
# Hostile scaling: 4× the input must cost under 6× the time
# ---------------------------------------------------------------------------


def _seconds(fn, arg, calls):
    gc.collect()
    gc.disable()
    try:
        t0 = time.perf_counter()
        for _ in range(calls):
            fn(arg)
        return time.perf_counter() - t0
    finally:
        gc.enable()


def _assert_near_linear(fn, small, large, reps=7, min_sample_s=0.05):
    """``large`` is 4× ``small``; the wall-clock time must grow under 6×
    (a quadratic path grows ~16×). Each sample repeats the call until the
    small input takes at least ``min_sample_s``, so a sample spans many
    timer ticks and a short scheduler stall is a small share of it. Small
    and large samples alternate, and the test takes the median of the
    ``reps`` ratios of adjacent pairs: adjacent samples share the host's
    load at that moment, so a burst of load on a shared host moves one
    ratio, not the median. The cyclic collector is off while timing: its
    full passes scale with every live object in the test process, not
    with the input under test."""
    fn(small)  # warm per-process caches (Huffman LUTs, regexes)
    t0 = time.perf_counter()
    fn(small)
    calls = max(1, math.ceil(min_sample_s / (time.perf_counter() - t0)))
    ratios = []
    for _ in range(reps):
        t_small = _seconds(fn, small, calls)
        ratios.append(_seconds(fn, large, calls) / t_small)
    assert statistics.median(ratios) < 6, (calls, sorted(ratios))


def _stray_closes(n):
    return "<body>" + "<div>" * n + "x" + "</span>" * n + "</body>"


@pytest.mark.parametrize(
    "fast,page",
    [
        (True, _stray_closes),
        (False, _stray_closes),
        (True, lambda n: "<a" * n),
        (True, lambda n: "<a>" * n),
        (True, lambda n: '<div class="' + "<p>x</p>" * n),
        (True, lambda n: "<!--" * n),
        (True, lambda n: "</" * n),
    ],
    ids=["True", "False", "a_soup", "a_tag_soup", "open_class_quote", "comment_soup", "close_soup"],
)
def test_stray_close_tags_over_deep_stack_scale_linearly(fast, page):
    """Every close tag that matches no open element is rejected without
    walking the open-element stack, whether the regex scanner (True) or
    the stdlib reference parser (False) drives the handlers. The other
    hostile soups, markup that never closes (an unterminated tag, quote
    or comment) or never opens a block, are scanned once, not rescanned
    from every ``<``."""
    tokenize = tokenize_html if fast else stdlib_tokenize
    _assert_near_linear(tokenize, page(2000).encode(), page(8000).encode())


# The backtracking regex ``_img_strips`` replaced: the reference semantics.
_IMG_RE = re.compile(
    r'<img[^>]*?data-width="(\d+)"[^>]*?data-strip="([A-Za-z0-9+/=]*)"'
)
_IMG_SOUP = st.lists(
    st.sampled_from(
        [
            "<img", "<img ", 'data-width="', 'data-width="12"', 'data-width="3"',
            "7", '"', 'data-strip="', 'data-strip="QUJD"', 'data-strip=""',
            "QUJD", ">", " ", "x", "<", "=", "data-",
        ]
    ),
    max_size=40,
).map("".join)


@settings(max_examples=500, deadline=None)
@given(_IMG_SOUP)
def test_img_strips_match_backtracking_regex(soup):
    ref = [(int(m.group(1)), m.group(2)) for m in _IMG_RE.finditer(soup)]
    assert list(_img_strips(soup)) == ref


@pytest.mark.parametrize(
    "unit,n", [('<img data-width="1" ', 50), ("<img ", 500)], ids=["width_soup", "img_soup"]
)
def test_img_strip_scan_scales_linearly(unit, n):
    """``<img`` soup whose tags never carry a strip: a backtracking
    regex is cubic on the first shape and quadratic on the second."""
    _assert_near_linear(lambda html: list(_lines_of_doc(html)), unit * n, unit * 4 * n)


@pytest.mark.parametrize("progressive", [False, True])
def test_jpeg_noise_decode_scales_linearly(progressive):
    """Noise rasters keep nearly every coefficient nonzero, the most
    entropy-decode work per pixel; 4× the pixels is 4× the blocks."""
    rng = np.random.default_rng(5)

    def noise_jpeg(h, w):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        return encode_jpeg(img, quality=90, progressive=progressive)

    _assert_near_linear(decode_jpeg, noise_jpeg(48, 96), noise_jpeg(96, 192))


@pytest.mark.parametrize("frame", ["solid", "noise"])
def test_gif_lzw_decode_scales_linearly(frame):
    """Each LZW table entry is built by copying its prefix, so a solid
    frame's entries grow long; they also cover that many pixels, and the
    ``expected`` bound stops the output at the frame size, so the decode
    stays linear in pixels. A noise frame is the most codes per pixel."""
    rng = np.random.default_rng(6)

    def lzw(h, w):
        idx = (
            np.full(h * w, 7, np.uint8)
            if frame == "solid"
            else rng.integers(0, 256, h * w, dtype=np.uint8)
        )
        return _lzw_encode(idx, 8), 8, h * w

    _assert_near_linear(lambda a: _lzw_decode(*a), lzw(128, 256), lzw(256, 512))


_HUGE_HEADER_CHILD = r"""
import resource, sys, time
import numpy as np
from ocr_spark.kernels.jpeg import decode_jpeg, encode_jpeg

small = encode_jpeg(np.full((16, 16), 99, np.uint8), progressive=sys.argv[1] == "1")
decode_jpeg(small)  # warm imports and the Huffman LUT cache
sof = max(small.find(b"\xff\xc0"), small.find(b"\xff\xc2"))
data = bytearray(small)
data[sof + 5 : sof + 9] = (7744).to_bytes(2, "big") * 2  # 59.97 MP
before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
t0 = time.perf_counter()
try:
    decode_jpeg(bytes(data))
except ValueError as e:
    err = str(e)
else:
    err = None
dt = time.perf_counter() - t0
grew_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - before) / 1024
print(repr(err), dt, grew_mb)
"""


@pytest.mark.parametrize("progressive", [False, True])
def test_huge_declared_jpeg_with_short_entropy_data_fails_cheaply(progressive):
    """A few hundred bytes that declare a ~60 MP raster (just under
    MAX_DECODE_PIXELS) and carry one block of entropy data must raise
    fast, without committing the declared coefficient store (~480 MB of
    int64 slots): pages the decoder never writes stay untouched. Run in a
    child process so the peak-RSS reading is this decode's alone."""
    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ, PYTHONPATH=str(root))
    out = subprocess.run(
        [sys.executable, "-c", _HUGE_HEADER_CHILD, str(int(progressive))],
        capture_output=True, text=True, timeout=120, cwd=root, env=env,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    err, dt, grew_mb = out.stdout.strip().rsplit(" ", 2)
    assert err == "'truncated entropy-coded data'", out.stdout
    assert float(dt) < 2.0, out.stdout
    assert float(grew_mb) < 64, out.stdout
