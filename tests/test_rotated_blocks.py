"""Rotated/polygon geometry: clipping, IoU, quad NMS, rotated-layout fixtures.

The lanms semantics (``/root/reference/locality_aware_nms.py``,
``lanms/lanms.h:22-34``) re-derived in the quad domain: these suites pin
down intersection math against hand-computable cases and check the rotated
path degenerates exactly to the AABB path at angle 0.
"""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.kernels.blocks import (
    box_iou,
    clip_polygon,
    nms_merge_blocks,
    polygon_area,
    polygon_iou,
    quad_aabb,
    rect_to_quad,
    sort_quad,
    xy_cut_order,
)


def test_shoelace_area_square_and_orientation():
    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=float)
    assert polygon_area(sq) == pytest.approx(4.0)
    assert polygon_area(sq[::-1]) == pytest.approx(-4.0)


def test_clip_identical_squares():
    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=float)
    inter = clip_polygon(sq, sq)
    assert abs(polygon_area(inter)) == pytest.approx(4.0)


def test_clip_offset_squares_quarter_overlap():
    a = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=float)
    b = a + [1.0, 1.0]
    inter = clip_polygon(a, b)
    assert abs(polygon_area(inter)) == pytest.approx(1.0)
    assert polygon_iou(a, b) == pytest.approx(1.0 / 7.0)


def test_rotated_45_square_iou_known_value():
    """Unit square vs itself rotated 45° about its center: intersection is
    a regular octagon of area 2(√2−1); union = 2 − that."""
    sq = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
    rot = rect_to_quad(np.array([0, 0, 1, 1.0]), angle=np.pi / 4)
    inter = 2.0 * (np.sqrt(2.0) - 1.0)
    expect = inter / (2.0 - inter)
    assert polygon_iou(sq, rot) == pytest.approx(expect, abs=1e-9)


def test_disjoint_polygons_iou_zero():
    a = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
    b = a + [5.0, 0.0]
    assert polygon_iou(a, b) == 0.0


@pytest.mark.parametrize("angle", [0.3, -0.3, 0.7])
def test_iou_rotation_invariance(angle):
    """Rotating BOTH polygons by the same angle preserves IoU."""
    a = rect_to_quad(np.array([0, 0, 4, 2.0]))
    b = rect_to_quad(np.array([1, 0.5, 5, 2.5]))
    base = polygon_iou(a, b)
    c, s = np.cos(angle), np.sin(angle)
    rot = np.array([[c, -s], [s, c]])
    assert polygon_iou(a @ rot.T, b @ rot.T) == pytest.approx(base, abs=1e-9)


def test_sort_quad_canonicalization():
    q = rect_to_quad(np.array([2, 3, 6, 5.0]), angle=0.2)
    for shift in range(4):
        rolled = np.roll(q, shift, axis=0)
        np.testing.assert_allclose(sort_quad(rolled), sort_quad(q))


def test_quad_nms_matches_aabb_nms_at_angle_zero():
    """Differential: given axis-aligned quads, nms_merge_blocks must keep
    the same members and equivalent geometry as given the boxes."""
    boxes = np.array(
        [
            [0, 0, 10, 4],
            [0.5, 0.2, 10.5, 4.2],  # near-dup of block 0 → merges
            [20, 0, 30, 4],
            [0, 10, 10, 14],
        ],
        dtype=float,
    )
    scores = np.array([0.9, 0.8, 0.7, 0.6])
    kb, ks, km = nms_merge_blocks(boxes, scores, thres=0.3)
    quads = np.stack([rect_to_quad(b) for b in boxes])
    kq, qs, qm = nms_merge_blocks(quads, scores, thres=0.3)
    assert km == qm
    np.testing.assert_allclose(qs, ks)
    np.testing.assert_allclose(quad_aabb(kq), kb, atol=1e-12)


def test_rotated_near_duplicates_merge_where_aabb_would_not():
    """The case AABB gets wrong: two thin 45°-rotated boxes on the same
    diagonal overlap heavily as polygons (merge) while a third parallel
    offset one does not — AABB IoU sees all three as similar overlaps."""
    base = np.array([0, 4, 10, 6.0])  # thin strip
    q1 = rect_to_quad(base, angle=np.pi / 4)
    q2 = rect_to_quad(base + [0.3, 0.3, 0.3, 0.3], angle=np.pi / 4)
    q3 = rect_to_quad(base + [2.5, -2.5, 2.5, -2.5], angle=np.pi / 4)
    assert polygon_iou(q1, q2) > 0.3  # true near-dup
    assert polygon_iou(q1, q3) < 0.1  # parallel diagonal, near-disjoint
    # but their AABBs overlap substantially — the axis-aligned metric lies
    a1, a3 = quad_aabb(np.stack([q1, q3]))
    assert box_iou(a1, a3) > 0.3
    _, _, members = nms_merge_blocks(
        np.stack([q1, q2, q3]), np.array([0.9, 0.8, 0.7]), thres=0.3
    )
    assert members == [[0, 1], [2]]


def test_rotated_layout_reading_order_fixture():
    """A rotated two-column page: quad NMS dedups within columns, AABB
    hulls + XY-cut give column-major reading order."""
    rows = []
    for col, x in enumerate((0.0, 30.0)):
        for line in range(3):
            y = 10.0 * line
            rows.append((col, line, np.array([x, y, x + 20.0, y + 4.0])))
    quads = np.stack(
        [rect_to_quad(b, angle=0.15) for _, _, b in rows]
    )
    scores = np.full(len(rows), 0.9)
    kept, _, members = nms_merge_blocks(quads, scores, thres=0.3)
    assert len(kept) == len(rows)  # nothing spuriously merged
    order = xy_cut_order(quad_aabb(kept), min_gap=1.0)
    labels = [(rows[members[i][0]][0], rows[members[i][0]][1]) for i in order]
    assert labels == [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)]
