"""Adversarial page corpus through the full Spark extraction path: no
crashes, deterministic output, pathological structures bounded."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.operators.extract_html import extract_pages
from ocr_spark.sources.pages import PAGES_SCHEMA

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
    yield (str, spans, int), never an exception (one hostile page must
    not kill a 10^12-document task)."""
    from ocr_spark.kernels.html import extract_main_text

    text, spans, n_blocks = extract_main_text(data)
    assert isinstance(text, str) and isinstance(n_blocks, int)


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=400))
def test_fuzz_extract_main_text_unicode_soup(fragment):
    """Unicode soup wrapped in plausible tags: still total, still a str."""
    from ocr_spark.kernels.html import extract_main_text

    html = f"<body><main><article><p>{fragment}</p></article></main></body>"
    text, spans, n_blocks = extract_main_text(html.encode("utf-8"))
    assert isinstance(text, str)
