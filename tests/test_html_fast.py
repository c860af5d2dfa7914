"""Differential test: regex scanner vs stdlib html.parser tokenizer.

The scanner must produce byte-identical node columns on every
well-formed fixture; on garbage input it must not crash and must be
deterministic (run-twice identical)."""

from __future__ import annotations

from html.parser import HTMLParser

import duckdb
import pytest

from ocr_spark.kernels.charset import decode_html
from ocr_spark.kernels.html import _Tokenizer, extract_main_text, tokenize_html
from ocr_spark.kernels.synth import url_for_doc, wrap_html


def stdlib_tokenize(html: bytes | str) -> dict[str, list]:
    """The reference tokenizer: stdlib ``html.parser`` drives the same
    ``_Tokenizer`` handlers that ``html_scan.scan`` drives in production."""
    if isinstance(html, (bytes, bytearray)):
        html = decode_html(html)
    tok = _Tokenizer()
    parser = HTMLParser(convert_charrefs=True)
    parser.handle_starttag = tok.handle_starttag
    parser.handle_startendtag = tok.handle_startendtag
    parser.handle_endtag = tok.handle_endtag
    parser.handle_data = tok.handle_data
    parser.feed(html)
    parser.close()
    return tok.finish()

CASES = [
    "<body><p>plain paragraph with enough words to be a real content block</p></body>",
    "<body><script>var x = '<p>not a node</p>';</script><p>real one here with words</p></body>",
    "<body><style>p::before{content:'<div>'}</style><p>content survives styling tricks</p></body>",
    "<!-- <p>commented out</p> --><p>only this paragraph is real content text</p>",
    "<div class='a b content'><p>entity &amp; test &lt;kept&gt; &#65; here</p></div>",
    '<div class="sidebar"><ul><li><a href="/x">link</a></li></ul></div><p>main text body of the page here</p>',
    "<p>unclosed paragraph one<p>unclosed paragraph two follows immediately here",
    "<body><div><div><div><p>deeply nested but clean paragraph of content</p></div></div></div></body>",
    "<P CLASS='Big'>UPPERCASE tags and attrs normalize the same way as parser</P>",
    "<body><textarea><p>inside textarea</p></textarea><p>after the textarea block</p></body>",
    "<br><hr><img src=x><p>void elements precede this content paragraph</p>",
    "<body><p>self closing <span/> inline marker and the text continues</p></body>",
    "a < b but > c <p>math-ish bare angle brackets around the real text</p>",
    "<body><script>var a=1;</ script><p>whitespace in the close tag works</p></body>",
    '<div data-class="sidebar"><p>data-class is NOT class; stays positive content</p></div>',
    "<div ID='nav'><p>uppercase ID attribute is recognized as negative here</p></div>",
    "<div class=foo/>trailing slash inside unquoted attr is not self-close</div>",
    "<p>a</p></ p><p>whitespace after the closing slash parses the same</p>",
]


@pytest.mark.parametrize("i", range(len(CASES)))
def test_differential_cases(i):
    html = CASES[i]
    assert tokenize_html(html) == stdlib_tokenize(html)


def test_differential_synth_suite():
    rows = duckdb.sql(
        "SELECT doc_id, text, source FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    for doc_id, text, source in rows:
        for n_par in (1, 3):
            html = wrap_html(text, url_for_doc(doc_id, source), n_paragraphs=n_par)
            fast = tokenize_html(html)
            ref = stdlib_tokenize(html)
            assert fast == ref, f"doc {doc_id} n_par {n_par}"


def test_garbage_deterministic_no_crash():
    blobs = [
        bytes(range(256)) * 8,
        b"<" * 10_000,
        b"<div " + b"x" * 10_000,
        "<p>é中文 🎉 &bogus; &#xfff_; tail".encode(),
        b"</p></div></body><p>orphan closers before content words here</p>",
    ]
    for blob in blobs:
        a = extract_main_text(blob)
        b = extract_main_text(blob)
        assert a == b
