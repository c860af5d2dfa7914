"""OCR kernel: fixed-weight conv + CTC round-trips (fixture suite 3)."""

import numpy as np

from ocr_spark.config import BLANK_INDEX, CHAR_VECTOR, MAX_LINE_WIDTH, NUM_CLASSES
from ocr_spark.kernels.ocr import (
    CHAR_WIDTH,
    MAX_CHARS,
    line_logits,
    normalize_strip,
    recognize_lines,
    render_line,
)


def test_render_decode_roundtrip_simple():
    # NB: the reference vocabulary has no space char (scene-text OCR) and
    # the repeat 'll' consumes one extra blank slot: 10 chars + 1 = 11 slots
    strip, w = render_line("hello-123!")
    assert w == (len("hello-123!") + 1) * CHAR_WIDTH
    assert recognize_lines(strip[None], [w]) == ["hello-123!"]


def test_space_is_out_of_vocabulary():
    # spaces are skipped like any OOV char (reference CHAR_VECTOR has none)
    strip, w = render_line("ab cd")
    assert recognize_lines(strip[None], [w]) == ["abcd"]


def test_roundtrip_full_charset():
    strip, w = render_line(CHAR_VECTOR)
    assert recognize_lines(strip[None], [w]) == [CHAR_VECTOR]


def test_roundtrip_repeated_chars():
    for text in ["aa", "aaa", "aabb", "xxyyzz"]:
        strip, w = render_line(text)
        assert recognize_lines(strip[None], [w]) == [text], text


def test_empty_line():
    strip, w = render_line("")
    assert w == 0
    assert recognize_lines(strip[None], [w]) == [""]


def test_blank_strip_decodes_empty():
    strip = np.zeros((8, MAX_LINE_WIDTH), dtype=np.float32)
    assert recognize_lines(strip[None], [MAX_LINE_WIDTH]) == [""]


def test_width_cap_truncation():
    long = "abcdefghij" * 20  # 200 chars > 96 slots
    strip, w = render_line(long)
    assert w == MAX_LINE_WIDTH
    got = recognize_lines(strip[None], [w])[0]
    assert got == long[:MAX_CHARS]


def test_oov_chars_skipped():
    strip, w = render_line("a€b☃c")
    assert recognize_lines(strip[None], [w]) == ["abc"]


def test_logits_shape_and_blank_dominance():
    strip, w = render_line("xyz")
    lg = line_logits(strip[None])
    assert lg.shape == (1, MAX_LINE_WIDTH // CHAR_WIDTH, NUM_CLASSES)
    # beyond true width, background wins → blank
    assert lg[0, 10:].argmax(axis=1).max() == BLANK_INDEX
    # exact-match logit value: 32 − 2·Hamming = 32 at the true class
    assert lg[0, 0].max() == 32.0


# punctuation-only and empty lines included
LINE_TEXTS = [
    "first-line!", "SECOND?", "", "aabbcc", "0123456789",
    "MiXeD-CaSe.42", "~`<>'.:;^/|", "!?$%#@&*()", "[]{}_+=,\\\"",
]


def test_batched_matches_single():
    texts = ["first-line", "second.one!", "", "THIRD?", *LINE_TEXTS]
    strips, widths = zip(*(render_line(t) for t in texts))
    got = recognize_lines(np.stack(strips), list(widths))
    assert got == list(texts)
    assert [recognize_lines(s[None], [w])[0] for s, w in zip(strips, widths)] == got


def test_normalize_strip_from_double_height():
    # render at height 16 (2× nearest upsample), normalize back to 8×W
    strip, w = render_line("resize.me")
    tall = np.repeat(strip[:, : w or 1], 2, axis=0)  # [16, w]
    tall = np.repeat(tall, 2, axis=1)  # [16, 2w] keep aspect
    norm, out_w = normalize_strip(tall)
    assert norm.shape == (8, MAX_LINE_WIDTH)
    assert out_w == w
    assert recognize_lines(norm[None], [out_w]) == ["resize.me"]


def test_noise_robustness_of_matched_filter():
    strip, w = render_line("robust")
    noisy = np.clip(strip + 0.2 * np.sin(np.arange(strip.size)).reshape(strip.shape), 0, 1)
    assert recognize_lines(noisy[None].astype(np.float32), [w]) == ["robust"]
