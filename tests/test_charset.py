"""Charset sniffing + decoding: BOMs, meta declarations, legacy codecs."""

from __future__ import annotations

import codecs

from ocr_spark.kernels.charset import decode_html, sniff_charset
from ocr_spark.kernels.html import extract_main_text

CONTENT = "Przełom naïve café — ärgerlich große Straße"
PAGE = "<body><main><p>{}</p><p>second paragraph with plenty of plain words here</p></main></body>"


def test_utf8_bom():
    raw = codecs.BOM_UTF8 + PAGE.format(CONTENT).encode("utf-8")
    assert sniff_charset(raw) == "utf-8-sig"
    assert CONTENT in decode_html(raw)
    text, _, _, _ = extract_main_text(raw)
    assert text.startswith(CONTENT)


def test_utf16_le_bom():
    raw = codecs.BOM_UTF16_LE + PAGE.format(CONTENT).encode("utf-16-le")
    assert sniff_charset(raw) == "utf-16-le"
    text, _, _, _ = extract_main_text(raw)
    assert text.startswith(CONTENT)


def test_meta_charset_windows1252():
    body = "caf\xe9 na\xefve r\xe9sum\xe9 words enough to be kept by the scorer here"
    doc = (
        '<html><head><meta charset="windows-1252"></head>'
        f"<body><p>{body}</p></body></html>"
    ).encode("windows-1252")
    assert sniff_charset(doc) == "windows-1252"
    text, _, _, _ = extract_main_text(doc)
    assert "café naïve résumé" in text


def test_meta_http_equiv_latin1_maps_to_cp1252():
    doc = (
        '<head><meta http-equiv="Content-Type" '
        'content="text/html; charset=iso-8859-1"></head>'
        "<body><p>plain ascii words survive any single byte codec fine</p></body>"
    ).encode("latin-1")
    assert sniff_charset(doc) == "windows-1252"
    text, _, _, _ = extract_main_text(doc)
    assert "plain ascii words" in text


def test_gb2312_alias():
    doc = (
        '<head><meta charset="gb2312"></head>'
        "<body><p>中文网页的正文内容应当完整地被抽取出来并且不会乱码</p></body>"
    ).encode("gb18030")
    assert sniff_charset(doc) == "gb18030"
    text, _, _, _ = extract_main_text(doc)
    assert "中文网页的正文内容" in text


def test_bogus_declared_charset_falls_back():
    doc = b'<head><meta charset="totally-bogus-enc"></head><body><p>fallback path words here stay</p></body>'
    assert sniff_charset(doc) == "utf-8"
    text, _, _, _ = extract_main_text(doc)
    assert "fallback path words" in text


def test_undecodable_bytes_never_raise():
    doc = b'<meta charset="utf-8"><body><p>broken \xff\xfe\xfa bytes inside the text</p></body>'
    text, _, _, _ = extract_main_text(doc)
    assert "broken" in text and "bytes inside" in text


def test_meta_utf16_label_maps_to_utf8():
    # WHATWG: a readable meta proves the doc is not utf-16
    doc = b'<meta charset="utf-16"><body><p>Hello world stays readable text here</p></body>'
    assert sniff_charset(doc) == "utf-8"
    text, _, _, _ = extract_main_text(doc)
    assert "Hello world" in text


def test_commented_out_meta_is_ignored():
    doc = (
        b'<!-- <meta charset="shift_jis"> --><meta charset="utf-8">'
        b"<body><p>caf\xc3\xa9 real declaration wins over the commented one</p></body>"
    )
    assert sniff_charset(doc) == "utf-8"
    text, _, _, _ = extract_main_text(doc)
    assert "café" in text


def test_charset_inside_attr_value_is_ignored():
    doc = (
        b'<meta property="og:url" content="https://x.com/?charset=big5">'
        b"<body><p>no declaration here so utf-8 fallback applies fine</p></body>"
    )
    assert sniff_charset(doc) == "utf-8"


def test_charset_fuzz_never_crashes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=400))
    def run(blob):
        codec = sniff_charset(blob)
        assert isinstance(codec, str)
        text = decode_html(blob)
        assert isinstance(text, str)
        assert decode_html(blob) == text  # deterministic

    run()
