"""Engine-wide discipline guards (SURVEY §5 commitments)."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

PKG = Path(__file__).resolve().parent.parent / "ocr_spark"


def test_no_row_at_a_time_python_udfs():
    """input_hint mandates "no per-row Python": no `F.udf(` / `@udf`
    registrations anywhere in the package — only pandas/Arrow UDF APIs
    (mapInPandas / applyInPandas / pandas_udf) are allowed."""
    bad = []
    pat = re.compile(r"(?<![a-zA-Z_.])udf\s*\(|@udf\b")
    for p in PKG.rglob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if pat.search(line) and "pandas_udf" not in line:
                bad.append(f"{p.name}:{i}: {line.strip()}")
    assert not bad, bad


def test_no_rng_in_kernels():
    """Determinism rule: the reference's RNG-inside-geometry trap
    (/root/reference/DataPreprocess/DataGen.py:319-333) must not recur —
    no random module / np.random GLOBAL-STATE use in any kernel or
    operator. ``np.random.default_rng(explicit_seed)`` is allowed: it is a
    pure function of its seed (the noisy-OCR fixture renderer keys it on
    doc_id), carries no hidden state, and double-run determinism is
    separately asserted in tests/test_determinism.py."""
    bad = []
    pat = re.compile(
        r"np\.random\.(?!default_rng)|random\.(random|randint|choice|shuffle|seed)|import random"
    )
    for p in PKG.rglob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if pat.search(line):
                bad.append(f"{p.name}:{i}: {line.strip()}")
    assert not bad, bad


# --- XY-cut order stability under input permutation -------------------------

@pytest.mark.parametrize(
    "angle",
    [
        pytest.param(None, id="boxes"),
        pytest.param(0.16, id="quads+0.16"),
        pytest.param(-0.16, id="quads-0.16"),
    ],
)
@settings(max_examples=100, deadline=None)
@given(st.permutations(list(range(8))), st.integers(min_value=0, max_value=2))
def test_pdf_assembly_permutation_invariant(angle, perm, fam_doc):
    """assemble_pdf_text must give identical output regardless of the
    input row order (blocks arrive in arbitrary shuffle order), for
    axis-aligned boxes and for the same blocks as rotated quads."""
    from ocr_spark.kernels.blocks import assemble_pdf_text, rect_to_quad
    from ocr_spark.kernels.synth_pdf import make_pdf_doc

    rows, expected_text, _ = make_pdf_doc(fam_doc)
    idx = [p for p in perm if p < len(rows)]
    idx += [i for i in range(len(rows)) if i not in idx]
    shuffled = [rows[i] for i in idx]

    def run(rlist):
        boxes = np.array([[r["x0"], r["y0"], r["x1"], r["y1"]] for r in rlist])
        if angle is not None:
            boxes = np.stack([rect_to_quad(b, angle) for b in boxes])
        return assemble_pdf_text(
            np.array([r["page"] for r in rlist], dtype=np.int64),
            boxes,
            np.array([r["score"] for r in rlist]),
            [r["text"] for r in rlist],
            np.array([r["block_id"] for r in rlist], dtype=np.int64),
        )

    base_text, base_ids = run(rows)
    got_text, got_ids = run(shuffled)
    assert got_text == base_text == expected_text
    assert got_ids == base_ids
