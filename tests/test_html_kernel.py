"""HTML tokenizer + Arc90 scorer kernel tests (byte-identical contract)."""

import numpy as np

from ocr_spark.config import BLOCK_SEPARATOR, SCORE_THRESH
from ocr_spark.kernels.html import (
    extract_main_text,
    score_nodes,
    tokenize_html,
)
from ocr_spark.kernels.synth import url_for_doc, wrap_html


def test_single_paragraph_roundtrip():
    t = "the quick brown fox jumps over the lazy dog again and again"
    got, spans, nb, _ = extract_main_text(wrap_html(t, url_for_doc(1)))
    assert got == t
    assert nb == 1 and spans == [(0, len(t))]


def test_roundtrip_many_urls_deterministic():
    for i in range(25):
        t = f"document number {i} with enough words to clear the density bar easily"
        page = wrap_html(t, url_for_doc(i))
        got1 = extract_main_text(page)
        got2 = extract_main_text(page)
        assert got1 == got2  # determinism: double-run diff
        assert got1[0] == t


def test_multi_paragraph_separator_policy():
    words = " ".join(f"w{i}" for i in range(60))
    got, spans, nb, _ = extract_main_text(wrap_html(words, url_for_doc(3), n_paragraphs=3))
    assert nb == 3
    parts = got.split(BLOCK_SEPARATOR)
    assert len(parts) == 3
    assert " ".join(parts) == words
    # spans index into the joined text
    for (s, e), p in zip(spans, parts):
        assert got[s:e] == p


def test_script_style_comments_stripped():
    html = (
        "<html><body><p>keep this sentence of adequate length here</p>"
        "<script>drop('this');</script><style>p{color:red}</style>"
        "<!-- a comment --><noscript>nope</noscript></body></html>"
    )
    got, _, nb, _ = extract_main_text(html)
    assert got == "keep this sentence of adequate length here"
    assert nb == 1


def test_entities_unescaped():
    html = "<p>a &amp; b &lt;c&gt; caf&eacute; long enough text ok</p>"
    got, _, _, _ = extract_main_text(html)
    assert got == "a & b <c> café long enough text ok"


def test_unicode_cjk_and_combining():
    t = "汉字内容测试 with mixed ascii and 더 많은 텍스트 plus étude words"
    got, _, _, _ = extract_main_text(f"<article><p>{t}</p></article>")
    assert got == t  # no unicode normalization applied — bytes preserved


def test_nested_blocks_no_duplication():
    html = (
        "<div>outer direct text that is long enough to score well here"
        "<p>inner paragraph also long enough to score well indeed</p></div>"
    )
    got, _, nb, _ = extract_main_text(html)
    # both blocks retained, each text appears exactly once
    assert got.count("outer direct text") == 1
    assert got.count("inner paragraph") == 1
    assert nb == 2


def test_reading_order_is_document_order():
    html = (
        "<div><p>first paragraph with plenty of words to retain</p>"
        "<div>middle direct div text long enough to be kept around here too</div>"
        "<p>last paragraph with plenty of words to retain too</p></div>"
    )
    got, _, _, _ = extract_main_text(html)
    i1 = got.index("first")
    i2 = got.index("middle")
    i3 = got.index("last")
    assert i1 < i2 < i3


def test_nav_footer_aside_dropped():
    html = (
        "<body><nav><p>navigation paragraph long enough to otherwise score</p></nav>"
        "<p>real content paragraph long enough to be retained ok</p>"
        "<aside><p>aside paragraph long enough to otherwise score fine</p></aside>"
        "<footer><p>footer paragraph long enough to otherwise score fine</p></footer></body>"
    )
    got, _, nb, _ = extract_main_text(html)
    assert got == "real content paragraph long enough to be retained ok"
    assert nb == 1


def test_negative_class_patterns_dropped():
    html = (
        '<div class="cookie-banner"><p>cookie notice that is long enough to score</p></div>'
        "<p>the genuine article content with lots of words here</p>"
        '<div class="share social"><p>share buttons text long enough to score</p></div>'
    )
    got, _, _, _ = extract_main_text(html)
    assert got == "the genuine article content with lots of words here"


def test_link_dense_block_dropped():
    links = "".join(f'<a href="/{i}">link text {i}</a> ' for i in range(10))
    html = f"<div>{links}</div><p>body text with enough words to be retained</p>"
    got, _, _, _ = extract_main_text(html)
    assert got == "body text with enough words to be retained"


def test_empty_main_edge_case():
    html = "<html><body><nav><a href='/'>Home</a></nav></body></html>"
    got, spans, nb, _ = extract_main_text(html)
    assert got == "" and spans == [] and nb == 0


def test_empty_and_garbage_inputs():
    assert extract_main_text(b"") == ("", [], 0, (0, 0))
    assert extract_main_text(b"\x80\x81 not html at all")[2] in (0, 1)
    got, _, _, _ = extract_main_text("plain text no tags but long enough to retain maybe")
    # stray top-level text is captured by the implicit body block
    assert "plain text" in got


def test_malformed_html_tolerated():
    html = "<div><p>unclosed paragraph long enough to retain easily here<div><b>x</div>"
    got, _, _, _ = extract_main_text(html)
    assert "unclosed paragraph" in got


def test_whitespace_collapse_policy():
    html = "<p>a  b\tc\nd   e plus padding words to clear the length bar</p>"
    got, _, _, _ = extract_main_text(html)
    assert got == "a b c d e plus padding words to clear the length bar"


def test_inline_whitespace_between_anchors_preserved():
    html = '<p><a href="/a">Alpha</a> <a href="/b">Beta</a> gamma delta epsilon zeta eta</p>'
    recs = tokenize_html(html)
    assert recs["text"][0] == "Alpha Beta gamma delta epsilon zeta eta"
    # inter-anchor whitespace is not link text: "AlphaBeta" = 9 chars
    assert recs["link_text_len"][0] == 9


def test_large_page_node_cap():
    blocks = "".join(
        f"<p>paragraph {i} with enough words to retain for sure ok</p>"
        for i in range(1500)
    )
    recs = tokenize_html(f"<body>{blocks}</body>")
    assert len(recs["node_id"]) == 1500  # under MAX_NODES_PER_PAGE, all kept
    got, _, nb, _ = extract_main_text(f"<body>{blocks}</body>")
    assert nb == 1500


def test_span_offsets_contiguous():
    recs = tokenize_html(
        "<p>alpha beta gamma delta epsilon zeta</p><p>second block of words here</p>"
    )
    assert recs["span_start"][0] == 0
    assert recs["span_start"][1] == recs["span_end"][0] + 1
    assert recs["node_id"] == [0, 1]


def test_score_nodes_vectorized_semantics():
    tags = np.array(["p", "p", "h2", "div", "p"], dtype=object)
    text_lens = np.array([100, 100, 10, 10, 5])
    link_lens = np.array([0, 90, 0, 0, 0])
    neg = np.array([False, False, False, False, False])
    pos = np.array([False, False, False, False, False])
    s = score_nodes(tags, text_lens, link_lens, neg, pos)
    assert s[0] >= SCORE_THRESH  # long, no links
    assert s[1] < SCORE_THRESH  # link-dense
    assert s[2] >= SCORE_THRESH  # heading: short norm
    assert s[3] < SCORE_THRESH  # short generic div
    assert s[4] < SCORE_THRESH  # too short even for p
    # negative ancestry zeroes
    s2 = score_nodes(tags, text_lens, link_lens, ~neg, pos)
    assert (s2 == 0).all()


def test_pre_mode_edges():
    """Pre-verbatim semantics hold at the edges: a <pre> under negative
    ancestry never leaks, a block nested INSIDE <pre> inherits verbatim
    whitespace, and the raw record for a long span-soup pre keeps its
    newlines while non-pre blocks still collapse."""
    from ocr_spark.kernels.html import extract_main_text, tokenize_html

    # negative ancestry wins over pre
    t, _, _, _ = extract_main_text(
        b"<body><nav><pre>chrome code\nnever leaks</pre></nav>"
        b"<main><article><p>Long enough paragraph of real content "
        b"for scoring baseline here.</p></article></main></body>"
    )
    assert "chrome code" not in t

    # a div nested inside pre inherits verbatim whitespace in its record
    recs = tokenize_html(
        b"<body><main><article><pre><div>x = 1\ny = 2</div></pre>"
        b"</article></main></body>"
    )
    by_tag = dict(zip(recs["tag"], recs["text"]))
    assert by_tag["div"] == "x = 1\ny = 2"

    # span-fragmented pre keeps line structure; sibling p still collapses
    recs = tokenize_html(
        b"<body><main><article>"
        b"<p>some\n   wrapped      paragraph text</p>"
        b"<pre><span>def</span> <span>f</span>():\n"
        b"    <span>return</span> 1</pre>"
        b"</article></main></body>"
    )
    by_tag = dict(zip(recs["tag"], recs["text"]))
    assert by_tag["pre"] == "def f():\n    return 1"
    assert by_tag["p"] == "some wrapped paragraph text"
