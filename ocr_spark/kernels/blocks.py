"""Block geometry: locality-aware NMS (weighted merge) + x/y-cut reading order.

Re-expresses the reference's box-domain post-processing in the page-block
domain. A region is either an axis-aligned box ``[N, 4]`` (x0, y0, x1, y1)
or a quad ``[N, 4, 2]`` (SURVEY D5). ``nms_merge_blocks`` and
``assemble_pdf_text`` take either, and only the intersection test depends
on the shape:

* ``nms_merge_blocks`` — the semantics of ``nms_locality`` + ``standard_nms``
  + ``weighted_merge`` (``/root/reference/locality_aware_nms.py:18-58``):
  a sequential locality pass merges each region into its running
  predecessor when IoU > thres (coords score-weighted-averaged, scores
  ADDED — ``g[:8]=(g8*g+p8*p)/(g8+p8); g8=g8+p8``), then a standard greedy
  NMS in score-descending order suppresses remaining overlaps. Boxes use
  ``box_iou``; quads use the polygon IoU below.
* ``xy_cut_order`` — recursive XY-cut reading order for page layouts; the
  generalization of the reference's ``(y, x)`` box sort
  (``/root/reference/DetectUtil.py:201-203``) that handles multi-column
  layouts correctly (cut on whitespace gaps, top/bottom before left/right).
  Quads are read in the order of their axis-aligned hulls (``quad_aabb``).

Pure NumPy. ``operators/extract_pdf.py`` calls ``assemble_pdf_text`` once
per url from a single ``mapInPandas`` that carries a url split across Arrow
batches over to the next batch. Groups are page-local and small, the same
locality argument as the reference's per-image ``boxes_masks`` grouping
(reference ``DataPreprocess/DataGen.py:538-548``).
"""

from __future__ import annotations

import numpy as np


def box_iou(a: np.ndarray, b: np.ndarray) -> float:
    """IoU of two axis-aligned boxes (x0, y0, x1, y1)."""
    ix0, iy0 = max(a[0], b[0]), max(a[1], b[1])
    ix1, iy1 = min(a[2], b[2]), min(a[3], b[3])
    iw, ih = max(0.0, ix1 - ix0), max(0.0, iy1 - iy0)
    inter = iw * ih
    if inter <= 0.0:
        return 0.0
    area_a = max(0.0, a[2] - a[0]) * max(0.0, a[3] - a[1])
    area_b = max(0.0, b[2] - b[0]) * max(0.0, b[3] - b[1])
    union = area_a + area_b - inter
    return inter / union if union > 0 else 0.0


def weighted_merge(
    box_g: np.ndarray, s_g: float, box_p: np.ndarray, s_p: float
) -> tuple[np.ndarray, float]:
    """Score-weighted coordinate average; scores add
    (/root/reference/locality_aware_nms.py:18-21)."""
    merged = (s_g * box_g + s_p * box_p) / (s_g + s_p)
    return merged, s_g + s_p


def nms_merge_blocks(
    boxes: np.ndarray,
    scores: np.ndarray,
    thres: float = 0.3,
) -> tuple[np.ndarray, np.ndarray, list[list[int]]]:
    """Locality-aware NMS over blocks in their given (reading) order.

    ``boxes`` holds axis-aligned boxes ``[N, 4]`` (``box_iou``) or quads
    ``[N, 4, 2]`` (``polygon_iou``, so parallel rotated lines whose hulls
    overlap do not falsely merge); the kept geometry has the same shape.

    Returns ``(kept_boxes, kept_scores, members)`` where ``members[i]`` lists
    the input indices merged into kept box ``i`` (first member = the
    highest-input-score constituent, used for text selection downstream).
    """
    quads = boxes.ndim == 3
    n = len(boxes)
    if n == 0:
        return boxes.reshape((0, 4, 2) if quads else (0, 4)), scores, []
    boxes = boxes.astype(np.float64)
    scores = scores.astype(np.float64)
    iou = polygon_iou if quads else box_iou
    if quads:
        # canonicalize (CCW orientation + sort_quad) so the weighted vertex
        # average pairs corresponding corners: two overlapping quads
        # expressed with different starting vertices or windings would
        # otherwise average into a degenerate bow-tie with near-zero area
        # and silently corrupt the subsequent IoU suppression
        boxes = np.stack(
            [sort_quad(q if polygon_area(q) >= 0 else q[::-1]) for q in boxes]
        )

    # --- locality pass (nms_locality:44-54): merge into running predecessor
    merged_boxes: list[np.ndarray] = []
    merged_scores: list[float] = []
    merged_members: list[list[int]] = []
    cur_box, cur_score, cur_members = boxes[0].copy(), float(scores[0]), [0]
    for i in range(1, n):
        if iou(boxes[i], cur_box) > thres:
            cur_box, cur_score = weighted_merge(
                cur_box, cur_score, boxes[i], float(scores[i])
            )
            cur_members.append(i)
        else:
            merged_boxes.append(cur_box)
            merged_scores.append(cur_score)
            merged_members.append(cur_members)
            cur_box, cur_score, cur_members = (
                boxes[i].copy(),
                float(scores[i]),
                [i],
            )
    merged_boxes.append(cur_box)
    merged_scores.append(cur_score)
    merged_members.append(cur_members)

    # --- standard NMS (standard_nms:24-35): score-desc greedy suppression
    mb = np.array(merged_boxes)
    ms = np.array(merged_scores)
    order = np.argsort(-ms, kind="stable")
    keep: list[int] = []
    while order.size > 0:
        i = int(order[0])
        keep.append(i)
        if order.size == 1:
            break
        rest = order[1:]
        ious = np.array([iou(mb[i], mb[j]) for j in rest])
        order = rest[ious <= thres]

    keep_sorted = sorted(keep)  # restore reading order among survivors
    out_members = []
    for i in keep_sorted:
        # first member = highest original score (stable tie-break by index)
        m = merged_members[i]
        best = max(m, key=lambda j: (scores[j], -j))
        out_members.append([best] + [j for j in m if j != best])
    return mb[keep_sorted], ms[keep_sorted], out_members


# ---------------------------------------------------------------------------
# Rotated / polygon geometry (quad domain).
#
# Re-derives the reference's polygon intersection
# (``/root/reference/locality_aware_nms.py:5-15`` via shapely, C++
# ``lanms/lanms.h:22-34`` via Clipper) in pure NumPy: convex-polygon
# intersection by Sutherland–Hodgman clipping and shoelace areas. It is
# the IoU ``nms_merge_blocks`` uses for quads — layouts whose regions are
# rotated or otherwise not axis-aligned, where the AABB ``box_iou`` above
# is wrong.
# ---------------------------------------------------------------------------


def polygon_area(poly: np.ndarray) -> float:
    """Signed shoelace area of a polygon [N, 2] (positive = CCW)."""
    x, y = poly[:, 0], poly[:, 1]
    return 0.5 * float(
        np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)
    )


def clip_polygon(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip a polygon by a CONVEX clip polygon.

    Both [N, 2]; clip must be convex (quads from rotated rectangles are).
    Returns the intersection polygon [M, 2] (possibly empty). Orientation
    of the clip polygon is normalized internally.
    """
    if polygon_area(clip) < 0:
        clip = clip[::-1]
    output = subject.astype(np.float64)
    m = len(clip)
    for i in range(m):
        if len(output) == 0:
            break
        a, b = clip[i], clip[(i + 1) % m]
        edge = b - a
        # inside = left of directed edge a→b (CCW clip polygon)
        d = (output - a) @ np.array([-edge[1], edge[0]])
        new_pts: list[np.ndarray] = []
        n = len(output)
        for j in range(n):
            cur, nxt = output[j], output[(j + 1) % n]
            dc, dn = d[j], d[(j + 1) % n]
            if dc >= 0:
                new_pts.append(cur)
            if (dc >= 0) != (dn >= 0):
                t = dc / (dc - dn)
                new_pts.append(cur + t * (nxt - cur))
        output = np.array(new_pts) if new_pts else np.empty((0, 2))
    return output


def polygon_iou(a: np.ndarray, b: np.ndarray) -> float:
    """IoU of two convex polygons [N, 2] (the lanms ``intersection``
    semantics: clipped-intersection area over union)."""
    inter_poly = clip_polygon(a, b)
    if len(inter_poly) < 3:
        return 0.0
    inter = abs(polygon_area(inter_poly))
    union = abs(polygon_area(a)) + abs(polygon_area(b)) - inter
    return inter / union if union > 0 else 0.0


def sort_quad(quad: np.ndarray) -> np.ndarray:
    """Canonicalize a quad: rotate vertices so the one nearest the origin
    (min x+y, the top-left) comes first, orientation preserved — the
    ``sort_poly`` discipline (``/root/reference/DetectUtil.py:219-225``)."""
    start = int(np.argmin(quad.sum(axis=1)))
    return np.roll(quad, -start, axis=0)


def rect_to_quad(box: np.ndarray, angle: float = 0.0) -> np.ndarray:
    """(x0, y0, x1, y1) + rotation about the center → quad [4, 2].

    angle in radians, the reference's θ∈[−π/4, π/4] geometry-map
    convention (``/root/reference/DataPreprocess/DataGen.py:281-291``).
    """
    x0, y0, x1, y1 = (float(v) for v in box)
    cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    corners = np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64
    )
    c, s = np.cos(angle), np.sin(angle)
    rot = np.array([[c, -s], [s, c]])
    return (corners - [cx, cy]) @ rot.T + [cx, cy]


def quad_aabb(quads: np.ndarray) -> np.ndarray:
    """Axis-aligned hulls [N, 4] of quads [N, 4, 2] — the projection that
    lets rotated layouts reuse ``xy_cut_order`` for reading order."""
    return np.stack(
        [
            quads[:, :, 0].min(axis=1),
            quads[:, :, 1].min(axis=1),
            quads[:, :, 0].max(axis=1),
            quads[:, :, 1].max(axis=1),
        ],
        axis=1,
    )


def _widest_gap_1d(
    starts: np.ndarray, ends: np.ndarray, min_gap: float
) -> tuple[float | None, float]:
    """Widest gap ≥ min_gap in the union of 1-D intervals.

    Returns ``(cut position at the widest gap's midpoint | None, width)``.
    Ties pick the first (topmost/leftmost) gap — deterministic.
    """
    order = np.argsort(starts, kind="stable")
    best_cut: float | None = None
    widest = 0.0
    cur_end = ends[order[0]]
    for i in order[1:]:
        gap = float(starts[i]) - float(cur_end)
        if gap >= min_gap and gap > widest:
            widest = gap
            best_cut = (float(cur_end) + float(starts[i])) / 2.0
        cur_end = max(cur_end, ends[i])
    return best_cut, widest


def xy_cut_order(boxes: np.ndarray, min_gap: float = 1.0) -> np.ndarray:
    """Recursive XY-cut reading order over axis-aligned blocks.

    At each level, make ONE cut at the single widest whitespace gap across
    both axes (ties → horizontal cut), then recurse into the two halves.
    Widest-gap-first with a single cut handles the hard layouts correctly:

    * aligned two-column rows — the column gutter is wider than line gaps,
      so the vertical cut yields whole columns, not a row-major interleave;
    * a full-width title above columns — the title spans the gutter, so no
      vertical gap exists until the horizontal cut under the title is made;
      after that cut the smaller line gaps must NOT pre-split the column
      section, which is exactly why only the widest gap is cut per level.

    Leaves fall back to the reference's ``(y, x)`` sort
    (``/root/reference/DetectUtil.py:201-203``). Deterministic; returns a
    permutation of ``range(len(boxes))``.
    """
    n = len(boxes)
    if n == 0:
        return np.array([], dtype=np.int64)
    boxes = boxes.astype(np.float64)
    out: list[int] = []

    def recurse(idx: np.ndarray) -> None:
        while True:
            if len(idx) <= 1:
                out.extend(idx.tolist())
                return
            sub = boxes[idx]
            ycut, ywide = _widest_gap_1d(sub[:, 1], sub[:, 3], min_gap)
            xcut, xwide = _widest_gap_1d(sub[:, 0], sub[:, 2], min_gap)
            if ycut is not None and (xcut is None or ywide >= xwide):
                axis, cut = 1, ycut
            elif xcut is not None:
                axis, cut = 0, xcut
            else:
                # no cut possible: (y, x) sort — reference reading-order
                # fallback (DetectUtil.py:201-203)
                order = np.lexsort((sub[:, 0], sub[:, 1]))
                out.extend(idx[order].tolist())
                return
            centers = (boxes[idx, axis] + boxes[idx, axis + 2]) / 2.0
            first = idx[centers < cut]
            second = idx[centers >= cut]
            recurse(first)
            idx = second  # tail recursion → loop (bounded stack)

    recurse(np.arange(n, dtype=np.int64))
    return np.array(out, dtype=np.int64)


def assemble_pdf_text(
    pages: np.ndarray,
    boxes: np.ndarray,
    scores: np.ndarray,
    texts: list[str],
    block_ids: np.ndarray,
    merge_thres: float = 0.3,
    separator: str = "\n\n",
) -> tuple[str, list[int]]:
    """One document's blocks → (extracted_text, block_ids in reading order).

    ``boxes`` holds axis-aligned boxes ``[N, 4]`` or quads ``[N, 4, 2]``.
    Per page: XY-cut reading order (over the quads' axis-aligned hulls) →
    locality NMS merge in that order (a merged block keeps its
    highest-score constituent's text) → assemble; pages concatenate in
    ascending page order.
    """
    out_texts: list[str] = []
    out_ids: list[int] = []
    for page in np.unique(pages):
        sel = np.flatnonzero(pages == page)
        hulls = quad_aabb(boxes[sel]) if boxes.ndim == 3 else boxes[sel]
        ordered = sel[xy_cut_order(hulls)]
        _, _, members = nms_merge_blocks(
            boxes[ordered], scores[ordered], thres=merge_thres
        )
        for m in members:
            src = ordered[m[0]]
            out_texts.append(texts[src])
            out_ids.append(int(block_ids[src]))
    return separator.join(out_texts), out_ids
