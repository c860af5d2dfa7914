"""Property-based tests (hypothesis): differential fuzzing and round-trip
invariants for the pure kernels. No Spark session needed — these cover the
kernel layer the way the reference's __main__ smoke blocks do, but
generatively."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.config import BLANK_INDEX, CHAR_VECTOR, NUM_CLASSES
from ocr_spark.kernels.ctc import ctc_greedy_decode_batch
from ocr_spark.kernels.html import NODE_FIELDS, tokenize_html
from ocr_spark.kernels.ocr import recognize_lines, render_line
from tests.test_html_fast import stdlib_tokenize

# --- grammar for well-formed HTML documents --------------------------------

_TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " .,!?&<>'\"-",
    min_size=0,
    max_size=60,
)
_TAGS = ["div", "p", "span", "li", "ul", "section", "h2", "em", "nav", "aside"]
_ATTRS = ["", ' class="content"', ' class="sidebar menu"', ' id="main"', ' class="a b"']


def _element(children: st.SearchStrategy[str]) -> st.SearchStrategy[str]:
    return st.builds(
        lambda tag, attr, body: f"<{tag}{attr}>{body}</{tag}>",
        st.sampled_from(_TAGS),
        st.sampled_from(_ATTRS),
        children,
    )


_node = st.recursive(
    _TEXT.map(lambda t: t.replace("<", "&lt;").replace(">", "&gt;")),
    lambda children: st.one_of(
        _element(st.lists(children, max_size=4).map("".join)),
        st.builds(lambda t: f"<!-- {t} -->", _TEXT.map(lambda s: s.replace("-", ""))),
        st.builds(lambda t: f"<script>{t}</script>", _TEXT.map(lambda s: s.replace("<", ""))),
    ),
    max_leaves=30,
)
_doc = st.lists(_node, max_size=8).map(
    lambda parts: "<body>" + "".join(parts) + "</body>"
)


@settings(max_examples=200, deadline=None)
@given(_doc)
def test_fast_scanner_matches_stdlib_on_wellformed(doc):
    assert tokenize_html(doc) == stdlib_tokenize(doc)


@settings(max_examples=200, deadline=None)
@given(_doc)
def test_tokenizer_invariants(doc):
    cols = tokenize_html(doc)
    assert tuple(cols) == NODE_FIELDS
    n = len(cols["node_id"])
    assert all(len(v) == n for v in cols.values())
    assert cols["node_id"] == list(range(n))
    cursor = 0
    for text, n_chars, n_link, start, end in zip(
        cols["text"], cols["text_len"], cols["link_text_len"],
        cols["span_start"], cols["span_end"],
    ):
        assert n_chars == len(text) > 0
        assert 0 <= n_link <= n_chars
        assert start == cursor and end == cursor + n_chars
        cursor = end + 1
        assert "  " not in text and text == text.strip()


# --- OCR round-trip ---------------------------------------------------------

_vocab_text = st.text(alphabet=CHAR_VECTOR, min_size=0, max_size=60)


@settings(max_examples=200, deadline=None)
@given(_vocab_text)
def test_ocr_render_recognize_roundtrip(s):
    strip, width = render_line(s)
    out = recognize_lines(strip[None], [width])[0]
    # truncation cap: repeats insert separator slots; everything that fits
    # must decode back exactly
    expected = s
    if len(s) > 0:
        slots = []
        for ch in s:
            c = CHAR_VECTOR.index(ch)
            if slots and slots[-1] == c:
                slots.append(BLANK_INDEX)
            slots.append(c)
        kept = [c for c in slots[:96] if c != BLANK_INDEX]
        expected = "".join(CHAR_VECTOR[c] for c in kept)
    assert out == expected


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=NUM_CLASSES - 1), min_size=1, max_size=40
    )
)
def test_ctc_decode_reference_semantics(classes):
    """Greedy decode == argmax → collapse repeats → drop blank, per the
    reference (/root/reference/Module/RecognitionLoss.py:33-38)."""
    import numpy as np

    T = len(classes)
    logits = np.full((1, T, NUM_CLASSES), -5.0, dtype=np.float32)
    for t, c in enumerate(classes):
        logits[0, t, c] = 5.0
    got = ctc_greedy_decode_batch(logits)[0]
    collapsed = []
    prev = None
    for c in classes:
        if c != prev:
            collapsed.append(c)
        prev = c
    expected = "".join(CHAR_VECTOR[c] for c in collapsed if c != BLANK_INDEX)
    assert got == expected


# --- sessionization vs brute force -----------------------------------------

@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # user
            st.integers(min_value=0, max_value=400_000),    # seconds offset
            st.floats(min_value=0, max_value=10, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_sessionize_matches_bruteforce(spark, events_raw):
    import datetime

    from ocr_spark.operators.sessions import GAP_SECONDS, sessionize

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=sec), uid, "t", val, "")
        for i, (uid, sec, val) in enumerate(events_raw)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r.user_id, r.session_no): r.n_events
        for r in sessionize(df).collect()
    }
    # brute force
    expected: dict[tuple[int, int], int] = {}
    by_user: dict[int, list] = {}
    for i, (uid, sec, val) in enumerate(events_raw):
        by_user.setdefault(uid, []).append((sec, i))
    for uid, evs in by_user.items():
        evs.sort()
        s_no, last, n = 0, None, 0
        for sec, _ in evs:
            if last is None or sec - last > GAP_SECONDS:
                if n:
                    expected[(uid, s_no)] = n
                s_no, n = s_no + 1, 0
            n += 1
            last = sec
        expected[(uid, s_no)] = n
    assert got == expected
