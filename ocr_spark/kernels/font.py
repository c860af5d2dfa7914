"""Fixed bitmap-font atlas + normalized-cross-correlation line recognizer.

This upgrades the OCR branch from a matched filter over a self-derived bit
code (``kernels/ocr.py``) to a recognizer over a REAL glyph atlas: the
classic 5×7 dot-matrix font (the public-domain pattern family used by
HD44780-class character LCDs for decades), hand-coded here for the 62
alphanumeric characters of the engine vocabulary, each glyph in an 8×6
cell (one gap row, one gap column).

Recognition is normalized cross-correlation (NCC) per stride-6 window
against the zero-mean, unit-norm atlas — invariant to brightness gain and
offset, which is what makes it robust to anti-aliased resampling and
additive noise (the capabilities the synthetic-code recognizer lacked).
The correlation scores feed the SAME CTC greedy decoder as the conv path
(``kernels/ctc.py``): scores land at their ``CHAR_VECTOR`` class indices
in a [T, 95] logits tensor whose blank class carries a fixed acceptance
threshold ``BLANK_TAU`` — a window correlating worse than ``BLANK_TAU``
with every glyph decodes as blank. Capability shape mirrors the
reference's recognition branch
(``/root/reference/Module/RecognitionBackbone.py:20-123`` +
``Module/RecognitionLoss.py:33-38``): template bank → per-timestep class
scores → CTC collapse; the learned weights are replaced by the fixed
atlas (training is out of scope — SURVEY §2.11).
"""

from __future__ import annotations

import numpy as np

from ocr_spark.config import (
    BLANK_INDEX,
    CHAR_VECTOR,
    MAX_LINE_WIDTH,
    NUM_CLASSES,
)
from ocr_spark.kernels.ctc import ctc_greedy_decode_batch

GLYPH_H = 8  # cell height (7 font rows + 1 gap row)
GLYPH_W = 6  # cell width (5 font columns + 1 gap column)
MAX_GLYPHS = MAX_LINE_WIDTH // GLYPH_W  # 64 cells per 384-wide strip

# a window must correlate at least this well with some glyph to beat blank.
# Margin measured over 300 noise seeds at the contract distortion (2× scale,
# bilinear AA, σ=0.10): glyph windows score ≥ 0.91, blank/noise windows
# ≤ 0.62 — τ sits mid-margin.
BLANK_TAU = 0.72

# temperature applied to NCC scores before the beam decoder's softmax:
# correlations live in [-1, 1], so raw softmax over 95 classes is nearly
# uniform (a 0.23 NCC gap is only a 1.26× probability ratio) and blank
# alignments swamp every labeling. ×20 turns the same gap into ~e^4.6 —
# measured as the smallest scale where beam matches greedy everywhere
# greedy is right (scripts/font_margin_report.py methodology; greedy is
# invariant to the scale, beam needs the calibration).
BEAM_LOGIT_SCALE = 20.0

# blur-variant scales in the template bank: each glyph is also matched in
# the form it takes after s×-upscale + bilinear-downscale (the multi-
# template matched-filter move — anti-aliased strokes correlate with the
# anti-aliased template, not the ideal bitmap).
VARIANT_SCALES = (1.5, 2.0)

# 5×7 dot-matrix glyphs ('#' = lit). Rows top→bottom, 5 chars per row.
_F = {
    "0": (".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    "1": ("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."),
    "2": (".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    "3": ("#####", "...#.", "..#..", "...#.", "....#", "#...#", ".###."),
    "4": ("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    "5": ("#####", "#....", "####.", "....#", "....#", "#...#", ".###."),
    "6": ("..##.", ".#...", "#....", "####.", "#...#", "#...#", ".###."),
    "7": ("#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."),
    "8": (".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    "9": (".###.", "#...#", "#...#", ".####", "....#", "...#.", ".##.."),
    "A": (".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "B": ("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    "C": (".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    "D": ("###..", "#..#.", "#...#", "#...#", "#...#", "#..#.", "###.."),
    "E": ("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    "F": ("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    "G": (".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".####"),
    "H": ("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "I": (".###.", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."),
    "J": ("..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    "K": ("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    "L": ("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    "M": ("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    "N": ("#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"),
    "O": (".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "P": ("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    "Q": (".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    "R": ("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    "S": (".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    "T": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    "U": ("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "V": ("#...#", "#...#", "#...#", "#...#", ".#.#.", ".#.#.", "..#.."),
    "W": ("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    "X": ("#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"),
    "Y": ("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    "Z": ("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    "a": (".....", ".....", ".###.", "....#", ".####", "#...#", ".####"),
    "b": ("#....", "#....", "####.", "#...#", "#...#", "#...#", "####."),
    "c": (".....", ".....", ".###.", "#....", "#....", "#...#", ".###."),
    "d": ("....#", "....#", ".####", "#...#", "#...#", "#...#", ".####"),
    "e": (".....", ".....", ".###.", "#...#", "#####", "#....", ".###."),
    "f": ("..##.", ".#..#", ".#...", "###..", ".#...", ".#...", ".#..."),
    "g": (".....", ".####", "#...#", "#...#", ".####", "....#", ".###."),
    "h": ("#....", "#....", "####.", "#...#", "#...#", "#...#", "#...#"),
    "i": ("..#..", ".....", ".##..", "..#..", "..#..", "..#..", ".###."),
    "j": ("...#.", ".....", "..##.", "...#.", "...#.", "#..#.", ".##.."),
    "k": ("#....", "#....", "#..#.", "#.#..", "##...", "#.#..", "#..#."),
    "l": (".#...", ".#...", ".#...", ".#...", ".#...", ".#..#", "..##."),
    "m": (".....", ".....", "##.#.", "#.#.#", "#.#.#", "#.#.#", "#.#.#"),
    "n": (".....", ".....", "####.", "#...#", "#...#", "#...#", "#...#"),
    "o": (".....", ".....", ".###.", "#...#", "#...#", "#...#", ".###."),
    "p": (".....", "####.", "#...#", "#...#", "####.", "#....", "#...."),
    "q": (".....", ".####", "#...#", "#...#", ".####", "....#", "....#"),
    "r": (".....", ".....", "#.##.", "##..#", "#....", "#....", "#...."),
    "s": (".....", ".....", ".####", "#....", ".###.", "....#", "####."),
    "t": (".#...", ".#...", "###..", ".#...", ".#...", ".#..#", "..##."),
    "u": (".....", ".....", "#...#", "#...#", "#...#", "#..##", ".##.#"),
    "v": (".....", ".....", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    "w": (".....", ".....", "#...#", "#...#", "#.#.#", "#.#.#", ".#.#."),
    "x": (".....", ".....", "#...#", ".#.#.", "..#..", ".#.#.", "#...#"),
    "y": (".....", "#...#", "#...#", "#...#", ".####", "....#", ".###."),
    "z": (".....", ".....", "#####", "...#.", "..#..", ".#...", "#####"),
    # -- punctuation (the remaining 32 CHAR_VECTOR glyphs). Sparse marks
    # (period, quotes, backtick) are drawn 2-px bold so their NCC energy
    # survives the contract distortion; near-twins (| ! i 1 l, . , ' `)
    # are deliberately de-correlated — margins verified by
    # scripts/font_margin_report.py at 2x scale, sigma=0.1.
    "-": (".....", ".....", ".....", "#####", ".....", ".....", "....."),
    "~": (".....", ".....", ".##.#", "#.##.", ".....", ".....", "....."),
    "`": ("##...", ".##..", "..#..", ".....", ".....", ".....", "....."),
    "<": ("...##", "..##.", ".##..", "##...", ".##..", "..##.", "...##"),
    ">": ("##...", ".##..", "..##.", "...##", "..##.", ".##..", "##..."),
    "'": ("..##.", "..##.", "..#..", ".....", ".....", ".....", "....."),
    ".": (".....", ".....", ".....", ".....", ".....", "..##.", "..##."),
    ":": (".....", "..##.", "..##.", ".....", "..##.", "..##.", "....."),
    ";": (".....", "..##.", "..##.", ".....", "..##.", "..#..", ".#..."),
    "^": ("..#..", ".#.#.", "#...#", ".....", ".....", ".....", "....."),
    "/": ("....#", "....#", "...#.", "..#..", ".#...", "#....", "#...."),
    "|": ("..#..", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    "!": (".##..", ".##..", ".##..", ".##..", ".....", ".##..", ".##.."),
    "?": (".###.", "#...#", "....#", "...#.", "..#..", ".....", "..#.."),
    "$": ("..#..", ".####", "#.#..", ".###.", "..#.#", "####.", "..#.."),
    "%": ("##...", "##..#", "...#.", "..#..", ".#...", "#..##", "...##"),
    "#": (".#.#.", ".#.#.", "#####", ".#.#.", "#####", ".#.#.", ".#.#."),
    "@": (".###.", "#...#", "#.###", "#.#.#", "#.##.", "#....", ".####"),
    "&": (".##..", "#..#.", "#.#..", ".#...", "#.#.#", "#..#.", ".##.#"),
    "*": (".....", "..#..", "#.#.#", ".###.", "#.#.#", "..#..", "....."),
    "(": ("...#.", "..#..", ".#...", ".#...", ".#...", "..#..", "...#."),
    ")": (".#...", "..#..", "...#.", "...#.", "...#.", "..#..", ".#..."),
    "[": ("###..", "#....", "#....", "#....", "#....", "#....", "###.."),
    "]": ("..###", "....#", "....#", "....#", "....#", "....#", "..###"),
    "{": ("...##", "..#..", "..#..", ".##..", "..#..", "..#..", "...##"),
    "}": ("##...", "..#..", "..#..", "..##.", "..#..", "..#..", "##..."),
    "_": (".....", ".....", ".....", ".....", ".....", ".....", "#####"),
    "+": (".....", "..#..", "..#..", "#####", "..#..", "..#..", "....."),
    "=": (".....", ".....", "#####", ".....", "#####", ".....", "....."),
    ",": (".....", ".....", ".....", ".....", "..##.", "..##.", ".#..."),
    "\\": ("#....", "#....", ".#...", "..#..", "...#.", "....#", "....#"),
    '"': (".#.#.", ".#.#.", ".#.#.", ".....", ".....", ".....", "....."),
}

FONT_CHARS = "".join(c for c in CHAR_VECTOR if c in _F)


_GLYPH_CACHE: dict[str, np.ndarray] = {}


def glyph_bitmap(ch: str) -> np.ndarray:
    """8×6 float cell for one character (7 font rows + gap row/column).
    Cached module-wide as a read-only array — renderers slice-copy it, and
    the cache removes the per-char rebuild from the hot render path."""
    cached = _GLYPH_CACHE.get(ch)
    if cached is not None:
        return cached
    cell = np.zeros((GLYPH_H, GLYPH_W), dtype=np.float32)
    rows = _F[ch]
    for r, row in enumerate(rows):
        for c, bit in enumerate(row):
            if bit == "#":
                cell[r, c] = 1.0
    cell.setflags(write=False)
    _GLYPH_CACHE[ch] = cell
    return cell


def _normed(mats: np.ndarray) -> np.ndarray:
    centered = mats - mats.mean(axis=1, keepdims=True)
    norms = np.linalg.norm(centered, axis=1, keepdims=True)
    return (centered / np.maximum(norms, 1e-9)).astype(np.float32)


def _atlas() -> tuple[np.ndarray, np.ndarray, int]:
    """(class_indices [n], templates [(1+v)·n, 48] zero-mean unit-norm,
    n_variants). Variant block v of the template matrix holds every glyph
    as it appears after the v-th ``VARIANT_SCALES`` up/down resample."""
    from ocr_spark.kernels.ocr import bilinear_resample

    idx = np.array([CHAR_VECTOR.index(c) for c in FONT_CHARS], dtype=np.int64)
    cells = [glyph_bitmap(c) for c in FONT_CHARS]
    blocks = [_normed(np.stack([g.ravel() for g in cells]))]
    for s in VARIANT_SCALES:
        blurred = [
            bilinear_resample(
                bilinear_resample(g, round(GLYPH_H * s), round(GLYPH_W * s)),
                GLYPH_H,
                GLYPH_W,
            ).ravel()
            for g in cells
        ]
        blocks.append(_normed(np.stack(blurred)))
    return idx, np.vstack(blocks), len(blocks)


_ATLAS_IDX, _ATLAS_T, _N_VARIANTS = _atlas()


def _text_slots(text: str) -> list[str | None]:
    """Glyph-cell slot stream for a text: one slot per in-vocabulary char,
    with a ``None`` (blank gap cell) inserted between adjacent repeats so
    CTC merge_repeated cannot collapse them. Out-of-atlas characters are
    skipped (the vocabulary discipline,
    ``/root/reference/DataPreprocess/DataGen.py:28-45``)."""
    slots: list[str | None] = []
    for c in text:
        if c not in _F:
            continue
        if slots and slots[-1] == c:
            slots.append(None)
        slots.append(c)
    return slots


def _render_slots(
    slots: list[str | None], pad_to: int
) -> tuple[np.ndarray, int]:
    width = len(slots) * GLYPH_W
    strip = np.zeros((GLYPH_H, pad_to), dtype=np.float32)
    for t, c in enumerate(slots):
        if c is not None:
            strip[:, t * GLYPH_W : (t + 1) * GLYPH_W] = glyph_bitmap(c)
    return strip, width


def render_line_font(
    text: str, pad_to: int = MAX_LINE_WIDTH
) -> tuple[np.ndarray, int]:
    """Render text as ONE 8×pad_to strip of 5×7 glyphs.

    Truncation is at 64 CELLS (chars + repeat-gap cells): n characters
    occupy up to 2n−1 cells, so callers needing exact single-strip
    roundtrips must cap input at 32 chars (the all-repeats worst case) —
    ``MAX_GLYPHS // 2``. Longer texts: ``render_line_font_multi``.
    """
    return _render_slots(_text_slots(text)[:MAX_GLYPHS], pad_to)


def render_line_font_multi(
    text: str, pad_to: int = MAX_LINE_WIDTH
) -> list[tuple[np.ndarray, int]]:
    """Render arbitrarily long text as continuation strips (NO length cap).

    The slot stream is chunked at ``MAX_GLYPHS`` cells; each chunk becomes
    its own strip. Strips are decoded independently and concatenated in
    chunk order, so a repeat-gap blank that would land at the START of a
    chunk is dropped — the strip boundary itself already separates the
    repeated characters for CTC. Always returns at least one strip (empty
    text → one all-zero strip of width 0).
    """
    slots = _text_slots(text)
    out: list[tuple[np.ndarray, int]] = []
    pos = 0
    while True:
        chunk = slots[pos : pos + MAX_GLYPHS]
        pos += len(chunk)
        if pos < len(slots) and slots[pos] is None:
            pos += 1  # boundary separates the repeat; gap cell redundant
        out.append(_render_slots(chunk, pad_to))
        if pos >= len(slots):
            return out


def distort_strip(
    content: np.ndarray, scale: float, sigma: float, seed: int
) -> np.ndarray:
    """The ONE distortion pipeline — ``scale``× bilinear upscale then
    seeded additive Gaussian noise, clipped to [0, 1] — shared by the
    test renderer (``render_distorted_line``) and the HTML fixture
    generator (``synth.wrap_html_with_font_images``) so their operating
    points cannot drift apart. ``default_rng(seed)`` is a pure function
    of its seed: no hidden RNG state.
    """
    from ocr_spark.kernels.ocr import bilinear_resample

    if scale != 1.0:
        content = bilinear_resample(
            content,
            round(content.shape[0] * scale),
            round(content.shape[1] * scale),
        )
    if sigma > 0:
        rng = np.random.default_rng(seed)
        content = np.clip(
            content + rng.normal(0.0, sigma, content.shape), 0.0, 1.0
        ).astype(np.float32)
    return content


def render_distorted_line(
    text: str,
    scale: float = 2.0,
    sigma: float = 0.1,
    seed: int = 0,
    pad_to: int = MAX_LINE_WIDTH,
) -> tuple[np.ndarray, int]:
    """Non-identity rendering: glyph strip → ``distort_strip`` (upscale +
    seeded noise) → detector-side bilinear normalization back to height 8.
    This is the fixture for the recognizer's robustness claims: what
    reaches recognition is anti-aliased, noisy, and never bit-identical
    to any template.
    """
    from ocr_spark.kernels.ocr import normalize_strip

    strip, width = render_line_font(text)
    content = distort_strip(strip[:, :width], scale, sigma, seed)
    if content.shape[0] != GLYPH_H:
        return normalize_strip(content, pad_to=pad_to, mode="bilinear")
    out = np.zeros((GLYPH_H, pad_to), dtype=np.float32)
    out[:, : content.shape[1]] = content
    return out, content.shape[1]


def render_distorted_line_multi(
    text: str,
    scale: float = 2.0,
    sigma: float = 0.1,
    seed: int = 0,
    pad_to: int = MAX_LINE_WIDTH,
) -> list[tuple[np.ndarray, int]]:
    """``render_distorted_line`` without the single-strip length cap: the
    continuation strips of ``render_line_font_multi``, each independently
    distorted (noise seed varies per segment so no two segments share a
    noise field) and normalized back to the 8-row geometry. Decoding each
    strip and concatenating in segment order recovers the full text.
    """
    from ocr_spark.kernels.ocr import normalize_strip

    out: list[tuple[np.ndarray, int]] = []
    for k, (strip, width) in enumerate(render_line_font_multi(text, pad_to)):
        if width == 0:
            out.append((strip, 0))
            continue
        content = distort_strip(strip[:, :width], scale, sigma, seed + 7919 * k)
        if content.shape[0] != GLYPH_H:
            out.append(normalize_strip(content, pad_to=pad_to, mode="bilinear"))
        else:
            padded = np.zeros((GLYPH_H, pad_to), dtype=np.float32)
            padded[:, : content.shape[1]] = content
            out.append((padded, content.shape[1]))
    return out


def font_line_logits(strips: np.ndarray) -> np.ndarray:
    """Batched NCC forward pass: ``[B, 8, 6·T] → [B, T, 95]`` logits.

    ``recognize_lines_font`` passes its ``[B, 8, 384]`` strips cut to the
    batch's longest line, so ``T`` is ``max(seq_lens)`` (at least 1), not
    the 64 windows of a full-width strip; a caller passing whole strips
    gets ``T = 64``.

    Stride-6 windowing is a reshape; per window the score of class c is
    the normalized cross-correlation with glyph c's template (gain/offset
    invariant); the blank class scores the constant ``BLANK_TAU``. Two
    matmul-sized NumPy ops per batch — the same batched-inference
    discipline as the conv path.
    """
    strips = np.asarray(strips, dtype=np.float32)
    if strips.ndim == 2:
        strips = strips[None]
    B, H, Wd = strips.shape
    T = Wd // GLYPH_W
    windows = (
        strips.reshape(B, H, T, GLYPH_W)
        .transpose(0, 2, 1, 3)
        .reshape(B, T, H * GLYPH_W)
        .astype(np.float64)
    )
    centered = windows - windows.mean(axis=2, keepdims=True)
    norms = np.linalg.norm(centered, axis=2, keepdims=True)
    ncc = (centered / np.maximum(norms, 1e-9)) @ _ATLAS_T.T.astype(np.float64)
    # per class, best variant wins (multi-template matched filter)
    ncc = ncc.reshape(B, T, _N_VARIANTS, len(FONT_CHARS)).max(axis=2)
    logits = np.full((B, T, NUM_CLASSES), -1.0, dtype=np.float32)
    logits[:, :, _ATLAS_IDX] = ncc.astype(np.float32)
    logits[:, :, BLANK_INDEX] = BLANK_TAU
    return logits


# character classes for the fixed glyph-bigram context prior
_CLS_OF = {}
for _c in "0123456789":
    _CLS_OF[_c] = 0  # digit
for _o in range(26):
    _CLS_OF[chr(ord("a") + _o)] = 1  # lower
    _CLS_OF[chr(ord("A") + _o)] = 2  # upper
# RELATIVE class-transition penalties (max 1 per row), NOT probability
# mass. Two measured failure modes force this form: (a) absolute mass
# (P/|class|) makes every emission pay ~log(1/26) that the blank path
# never pays — a global deletion bias that dropped characters wholesale;
# (b) harsh cross-class ratios (~50×) make skipping a legitimate
# class-switching char cheaper than emitting it ('B00K1' → 'B001').
# The NCC evidence is tempered by BEAM_LOGIT_SCALE=20, so a confusion
# where the wrong glyph wins by Δncc ≲ 0.07 carries an evidence ratio
# ≲ e^1.4 ≈ 4 — a mild 4-5× prior flips exactly those, while a clean
# cross-class glyph (evidence ratio vs blank ≈ 100×) still emits.
_CLS_TRANS = np.array(
    [
        # next:  digit lower upper punct
        [1.00, 0.25, 0.20, 0.25],  # prev digit: digits run with digits
        [0.25, 1.00, 0.25, 0.25],  # prev lower: words stay lowercase
        [0.25, 1.00, 0.50, 0.25],  # prev upper: usually followed by lower
        [1.00, 1.00, 1.00, 0.50],  # prev punct: letters/digits resume
        [1.00, 1.00, 1.00, 1.00],  # start of line: uninformative
    ]
)


def glyph_bigram_log_prior() -> np.ndarray:
    """Fixed ``[NUM_CLASSES + 1, NUM_CLASSES]`` log-prior over glyph
    bigrams — the engine's fixed-weight analog of the reference BiLSTM's
    cross-glyph context (``Module/RecognitionBackbone.py:77-123``).

    Character-CLASS bigram (digit/lower/upper/punct): after a digit,
    another digit is favored over an uppercase letter — exactly the
    signal that separates '0' from 'O' and '1' from 'l' when the
    per-window NCC is too noisy to. Class level (not a trained char
    table) keeps it corpus-free and honest: orthography, not memorized
    text. Shallow fusion only — strong per-frame evidence still
    overrides the prior.
    """
    out = np.full((NUM_CLASSES + 1, NUM_CLASSES), -np.inf)
    for prev_cls in range(5):
        row = np.empty(len(CHAR_VECTOR))
        for j, ch in enumerate(CHAR_VECTOR):
            nc = _CLS_OF.get(ch, 3)
            row[j] = _CLS_TRANS[prev_cls, nc]
        logrow = np.log(row)
        if prev_cls == 4:
            out[NUM_CLASSES, : len(CHAR_VECTOR)] = logrow
        else:
            for i, ch in enumerate(CHAR_VECTOR):
                if _CLS_OF.get(ch, 3) == prev_cls:
                    out[i, : len(CHAR_VECTOR)] = logrow
    out[:, BLANK_INDEX] = 0.0  # prior never scores blank (CTC handles it)
    return out


def glyph_bigram_log_prior_backward() -> np.ndarray:
    """Fixed ``[NUM_CLASSES + 1, NUM_CLASSES]`` RIGHT-context log-prior:
    row = the symbol that comes NEXT (``NUM_CLASSES`` = end-of-line),
    column = the symbol being scored. The same orthographic knowledge as
    the forward table read in the other direction —
    ``B[next, prev] = _CLS_TRANS[cls(prev), cls(next)]`` — so no new
    tuning surface. This is what finishes the BiLSTM analog
    (``Module/RecognitionBackbone.py:77-123`` runs both directions): a
    LEADING ambiguous glyph ('l'/'1' at line start, where the forward
    prior's start row is uninformative) is resolved by what FOLLOWS it.
    Applied by N-best rescoring after the beam (``decoder="beam_bi"``),
    never inside the left-to-right search."""
    out = np.full((NUM_CLASSES + 1, NUM_CLASSES), -np.inf)
    for j, prev_ch in enumerate(CHAR_VECTOR):
        pc = _CLS_OF.get(prev_ch, 3)
        for i, next_ch in enumerate(CHAR_VECTOR):
            out[i, j] = np.log(_CLS_TRANS[pc, _CLS_OF.get(next_ch, 3)])
        out[NUM_CLASSES, j] = 0.0  # end of line: uninformative
    out[:, BLANK_INDEX] = 0.0  # prior never scores blank (CTC handles it)
    return out


# shallow-fusion weight for the bigram prior: swept over {0.4, 0.5, 0.7,
# 1.0} on the ambiguity corpus — 0.5 keeps the full sigma=0.4 recovery
# (258 vs greedy 253 exact over 300 lines) while flipping ZERO confident
# clean reads even on class-inconsistent adversarial text ('Il1O0': at
# weight 1.0 the prior overpowers the small O-vs-0 evidence gap and CTC
# merges the flipped O into the adjacent 0)
BIGRAM_PRIOR_WEIGHT = 0.5

_BIGRAM_PRIOR = None
_BIGRAM_PRIOR_BWD = None


def recognize_lines_font(
    strips: np.ndarray,
    widths: np.ndarray | list[int],
    decoder: str = "greedy",
    beam_width: int = 8,
) -> list[str]:
    """strips [B, 8, 384] + true widths → decoded texts via NCC + CTC.

    ``decoder="greedy"`` (default) is the reference decode semantics;
    ``"beam"`` runs CTC prefix beam search (``kernels.ctc.ctc_beam_decode``)
    per line — it sums probability over ALL alignments of a labeling, so
    summing matters whenever a labeling has multiple alignments. NOTE the
    honest caveat for THIS geometry: the stride-6 windowing gives every
    glyph exactly one frame, so each labeling has a unique alignment and
    beam provably cannot beat greedy here — measured equal at every σ
    (tests/test_font_ocr.py::test_beam_never_worse_than_greedy). The
    option earns its keep on multi-frame-per-symbol logits
    (tests/test_ctc.py::test_beam_recovers_mass_split_across_alignments)
    and is wired so a finer-stride windowing inherits it. Scores are
    tempered by ``BEAM_LOGIT_SCALE`` before the softmax. Cost is
    O(T·C·beam) Python per line vs one vectorized argmax.

    ``"beam_lm"`` additionally fuses the fixed glyph-bigram context
    prior (``glyph_bigram_log_prior``) into the beam — the
    BiLSTM-analog: at noise levels where per-window NCC starts confusing
    O/0 and l/1, cross-glyph context resolves them
    (tests/test_font_ocr.py ambiguity corpus).

    ``"beam_bi"`` completes the BIDIRECTIONAL analog (the reference
    BiLSTM runs both directions): the left prior fuses in-beam, then the
    final N-best is rescored with the right-context prior
    (``glyph_bigram_log_prior_backward`` — each symbol scored given its
    successor). Leading ambiguous glyphs, invisible to the forward
    prior's uninformative start row, are exactly what the backward pass
    fixes. Measured on the ambiguity corpus: beam_bi ≥ beam_lm > greedy
    at sigma 0.4 (tests/test_font_ocr.py). Default-off everywhere: at
    the contract noise levels greedy is already exact on every line
    (measured, same tests) and is one vectorized argmax, while beam_bi
    is O(T·C·beam) Python per line — the context decoders are the
    degraded-input path, not a default tax on clean corpora.
    """
    seq_lens = np.asarray(widths, dtype=np.int64) // GLYPH_W
    # every decoder reads only the first seq_len windows of a line: score
    # no window past the batch's longest line (at least one, so an
    # all-empty batch still has a [B, 1, 95] logits tensor)
    n_win = max(int(seq_lens.max(initial=0)), 1)
    logits = font_line_logits(np.asarray(strips)[..., : n_win * GLYPH_W])
    if decoder in ("beam", "beam_lm", "beam_bi"):
        from ocr_spark.kernels.ctc import (
            ctc_beam_decode_nbest,
            decode_indices,
        )

        prior = None
        if decoder in ("beam_lm", "beam_bi"):
            global _BIGRAM_PRIOR
            if _BIGRAM_PRIOR is None:
                _BIGRAM_PRIOR = glyph_bigram_log_prior()
            prior = _BIGRAM_PRIOR
        bwd = None
        if decoder == "beam_bi":
            global _BIGRAM_PRIOR_BWD
            if _BIGRAM_PRIOR_BWD is None:
                _BIGRAM_PRIOR_BWD = glyph_bigram_log_prior_backward()
            bwd = _BIGRAM_PRIOR_BWD
        out = []
        for i in range(logits.shape[0]):
            nbest = ctc_beam_decode_nbest(
                logits[i] * BEAM_LOGIT_SCALE,
                int(seq_lens[i]),
                beam_width,
                bigram_log_prior=prior,
                prior_weight=BIGRAM_PRIOR_WEIGHT,
            )
            if bwd is not None and len(nbest) > 1:
                # backward rescoring: add the right-context prior of every
                # emitted symbol given its successor (EOL for the last) to
                # the in-beam score (which already fused the left prior).
                # SUBSTITUTION-ONLY: re-rank among hypotheses with the
                # top-1's LENGTH. The backward table rows top out at 0, so
                # a free-length re-rank would let deletion dodge any
                # inconsistent-glyph penalty (measured: 'I110' decoded as
                # '110') — right context decides WHICH glyph, the beam's
                # evidence decides WHETHER a glyph exists (the blank's
                # job, exactly as in the reference's CTC-over-BiLSTM).
                def bi_score(item):
                    labels, lp = item
                    s = lp
                    for k, c in enumerate(labels):
                        nxt = labels[k + 1] if k + 1 < len(labels) else None
                        row = bwd[nxt] if nxt is not None else bwd[-1]
                        s += BIGRAM_PRIOR_WEIGHT * row[c]
                    return s

                top_len = len(nbest[0][0])
                same_len = [it for it in nbest if len(it[0]) == top_len]
                best = min(same_len, key=lambda it: (-bi_score(it), it[0]))
                out.append(decode_indices(list(best[0])))
                continue
            out.append(decode_indices(list(nbest[0][0])) if nbest else "")
        return out
    if decoder != "greedy":
        raise ValueError(f"unknown decoder {decoder!r}")
    return ctc_greedy_decode_batch(logits, seq_lens)
