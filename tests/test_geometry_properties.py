"""Property-based verification of the polygon geometry kernels: the
clipping/IoU math is checked against an independent Monte-Carlo estimate
(no shared code path), and the structural invariants of quad NMS are
asserted over randomized rotated rectangles."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.kernels.blocks import (
    clip_polygon,
    nms_merge_blocks,
    polygon_area,
    polygon_iou,
    rect_to_quad,
)

_rects = st.tuples(
    st.floats(min_value=-5, max_value=5),   # x0
    st.floats(min_value=-5, max_value=5),   # y0
    st.floats(min_value=1.0, max_value=8),  # width
    st.floats(min_value=1.0, max_value=8),  # height
    st.floats(min_value=-0.7, max_value=0.7),  # angle
)


def _quad(spec) -> np.ndarray:
    x0, y0, w, h, ang = spec
    return rect_to_quad(np.array([x0, y0, x0 + w, y0 + h]), angle=ang)


def _point_in_convex(poly: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Vectorized convex containment (orientation-normalized)."""
    if polygon_area(poly) < 0:
        poly = poly[::-1]
    inside = np.ones(len(pts), dtype=bool)
    n = len(poly)
    for i in range(n):
        a, b = poly[i], poly[(i + 1) % n]
        edge = b - a
        inside &= (pts - a) @ np.array([-edge[1], edge[0]]) >= -1e-9
    return inside


@settings(max_examples=60, deadline=None)
@given(_rects, _rects)
def test_clip_area_matches_monte_carlo(spec_a, spec_b):
    """Intersection area from Sutherland–Hodgman vs an INDEPENDENT
    membership-sampling estimate on a deterministic grid — no shared code
    between the two computations."""
    qa, qb = _quad(spec_a), _quad(spec_b)
    inter = clip_polygon(qa, qb)
    analytic = abs(polygon_area(inter)) if len(inter) >= 3 else 0.0
    lo = np.minimum(qa.min(axis=0), qb.min(axis=0)) - 0.1
    hi = np.maximum(qa.max(axis=0), qb.max(axis=0)) + 0.1
    gx, gy = np.meshgrid(
        np.linspace(lo[0], hi[0], 160), np.linspace(lo[1], hi[1], 160)
    )
    pts = np.stack([gx.ravel(), gy.ravel()], axis=1)
    cell = ((hi[0] - lo[0]) / 160) * ((hi[1] - lo[1]) / 160)
    est = (
        (_point_in_convex(qa, pts) & _point_in_convex(qb, pts)).sum() * cell
    )
    box_area = (hi[0] - lo[0]) * (hi[1] - lo[1])
    assert abs(analytic - est) <= 0.03 * box_area + 1e-6


@settings(max_examples=40, deadline=None)
@given(st.lists(_rects, min_size=1, max_size=6))
def test_quad_nms_idempotent(specs):
    """Running NMS on its own output must keep everything: survivors are
    mutually below the IoU threshold by construction."""
    quads = np.stack([_quad(s) for s in specs])
    scores = np.linspace(1.0, 0.5, len(specs))
    kept, ks, _ = nms_merge_blocks(quads, scores, thres=0.3)
    kept2, _, members2 = nms_merge_blocks(kept, ks, thres=0.3)
    assert len(kept2) == len(kept)
    assert all(m == [i] for i, m in enumerate(members2))
