"""Per-page rotated page-path kernels: the scalar oracles.

``component_runs``, ``min_area_rect`` (hull + calipers, one component at
a time), ``order_points`` and ``_runs_score_px`` are the scalar D3-D6
geometry chain; ``box_points`` draws a rect's corners for the tests, and
``bitmap_to_polys`` and ``unclip_rotated`` are one-page and one-rect
calls of the runtime group kernel, and ``sort_boxes_rotated`` is the
builder's rotated sort over the straightened fit.

``postprocess_pixel_map_rotated`` / ``postprocess_prob_map_rotated``
are the page-at-a-time D1-D6 chain ``kernels/rotated_post.py`` ran
before its group kernel: open and label one page, sort its runs by
component, drop components with a pixel extent under 3, then one Python
iteration per component — the mean of its nonzero probabilities
(``np.sum`` over the component's pixels in raster order), the scalar
min-area rect over its run endpoints, and the scalar unclip with
``order_points`` inlined on four tuples. The other functions are the
per-word and per-crop loops the rotated page path ran before its other
kernels were vectorized. ``tests/test_rotated_post_batched.py`` asserts
the runtime kernels return exactly what these return.
"""

from __future__ import annotations

import math

import numpy as np

from onnxtr_spark.kernels.builder import PARAGRAPH_BREAK, resolve_sub_lines, sort_boxes
from onnxtr_spark.kernels.detect_post import BIN_THRESH, BOX_THRESH, UNCLIP_RATIO, _label_runs_packed, label_runs
from onnxtr_spark.kernels.rotated import _straight_fit, estimate_page_angle, rotate_boxes
from onnxtr_spark.kernels.rotated_post import _group_polys, _page_components, _unclip_quads
from tests.detect_post_oracle import open_3x3_packed


def component_runs(bitmap: np.ndarray) -> list[list[tuple[int, int, int]]]:
    """8-connected components as per-component row runs [(y, xs, xe)].

    Vectorized run labeling (``detect_post.label_runs`` — searchsorted
    overlap edges + min-label pointer jumping); components are returned
    in raster order of their topmost-leftmost run with runs in raster
    order within each component (deterministic, identical to the
    previous per-run union-find loop).
    """
    ys, xs, xe, lab = label_runs(bitmap)
    n = len(ys)
    if n == 0:
        return []
    # stable sort by label keeps raster order within each component;
    # ascending label order == raster order of component first-runs
    order = np.argsort(lab, kind="stable")
    sorted_lab = lab[order]
    bounds = np.flatnonzero(np.r_[True, sorted_lab[1:] != sorted_lab[:-1], True])
    triples = np.stack([ys[order], xs[order], xe[order]], axis=1).tolist()
    return [
        [tuple(t) for t in triples[bounds[i] : bounds[i + 1]]]
        for i in range(len(bounds) - 1)
    ]


def _half(seq: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for px, py in seq:
        while len(out) >= 2:
            (ox, oy), (qx, qy) = out[-2], out[-1]
            if (qx - ox) * (py - oy) - (qy - oy) * (px - ox) > 0:
                break
            out.pop()
        out.append((px, py))
    return out


def _hull_points(points: np.ndarray) -> list[tuple[float, float]]:
    """Monotone-chain hull as a float-tuple list (CCW in math
    orientation — visually clockwise with y down): the deduped sorted
    points when there are at most two. Accepts an (N, 2) array or a
    list of float tuples."""
    if isinstance(points, np.ndarray):
        points = map(tuple, points.astype(np.float64).tolist())
    pts = sorted(set(points))
    if len(pts) <= 2:
        return pts
    return _half(pts)[:-1] + _half(pts[::-1])[:-1]


def min_area_rect(points: np.ndarray) -> tuple[float, float, float, float, float]:
    """Minimum-area oriented bounding rectangle (cv2.minAreaRect analog).

    Returns (cx, cy, w, h, angle_rad) with the rect's u axis (width) at
    ``angle_rad``. Rotating calipers: the optimal rect is aligned with
    some hull edge: a plain-float E·H loop over the tuple hull.
    """
    return _rect_from_hull(_hull_points(points))


def _rect_from_hull(hull: list[tuple[float, float]]) -> tuple[float, float, float, float, float]:
    """Calipers over a ready monotone-chain hull (see min_area_rect)."""
    if len(hull) == 1:
        return hull[0][0], hull[0][1], 0.0, 0.0, 0.0
    if len(hull) == 2:
        (x0, y0), (x1, y1) = hull
        dx, dy = x1 - x0, y1 - y0
        return (x0 + x1) / 2, (y0 + y1) / 2, math.hypot(dx, dy), 0.0, math.atan2(dy, dx)
    n = len(hull)
    best_area = best_ux = best_uy = best_pumin = best_pumax = best_pvmin = best_pvmax = 0.0
    have = False
    for i in range(n):
        x0, y0 = hull[i]
        x1, y1 = hull[i + 1] if i + 1 < n else hull[0]
        e_x, e_y = x1 - x0, y1 - y0
        length = math.hypot(e_x, e_y)
        sux, suy = e_x / length, e_y / length
        svx, svy = -suy, sux
        hx0, hy0 = hull[0]
        pumin = pumax = hx0 * sux + hy0 * suy
        pvmin = pvmax = hx0 * svx + hy0 * svy
        for hx1, hy1 in hull[1:]:
            p_u = hx1 * sux + hy1 * suy
            if p_u < pumin:
                pumin = p_u
            elif p_u > pumax:
                pumax = p_u
            p_v = hx1 * svx + hy1 * svy
            if p_v < pvmin:
                pvmin = p_v
            elif p_v > pvmax:
                pvmax = p_v
        area = (pumax - pumin) * (pvmax - pvmin)
        if not have or area < best_area:
            have = True
            best_area, best_ux, best_uy = area, sux, suy
            best_pumin, best_pumax, best_pvmin, best_pvmax = pumin, pumax, pvmin, pvmax
    sux, suy = best_ux, best_uy
    svx, svy = -suy, sux
    cu = (best_pumax + best_pumin) / 2
    cv_ = (best_pvmax + best_pvmin) / 2
    return (
        cu * sux + cv_ * svx,
        cu * suy + cv_ * svy,
        best_pumax - best_pumin,
        best_pvmax - best_pvmin,
        math.atan2(suy, sux),
    )


def box_points(cx: float, cy: float, w: float, h: float, angle_rad: float) -> np.ndarray:
    """The rect's 4 corners (4, 2), unordered convention (cv2.boxPoints
    analog) — callers pass the result through ``order_points``."""
    u = np.array([np.cos(angle_rad), np.sin(angle_rad)])
    v = np.array([-np.sin(angle_rad), np.cos(angle_rad)])
    c = np.array([cx, cy])
    return np.stack([
        c - u * w / 2 - v * h / 2,
        c + u * w / 2 - v * h / 2,
        c + u * w / 2 + v * h / 2,
        c - u * w / 2 + v * h / 2,
    ])


def order_points(pts: np.ndarray) -> np.ndarray:
    """Order a (4,2) quadrangle TL,TR,BR,BL (utils/geometry.py:82-104):
    CCW-by-centroid-angle sort, start at the min coordinate-sum point,
    then enforce clockwise orientation (shoelace area < 0 in y-down
    image coords means counter-clockwise visually -> reversed+rolled).
    """
    pts = np.asarray(pts)
    c = pts.mean(axis=0)
    angles = np.arctan2(pts[:, 1] - c[1], pts[:, 0] - c[0])
    pts = pts[np.argsort(angles)]
    start_idx = int(np.argmin(pts.sum(axis=1)))
    pts = np.roll(pts, -start_idx, axis=0)
    area = 0.5 * np.sum(pts[:, 0] * np.roll(pts[:, 1], -1) - pts[:, 1] * np.roll(pts[:, 0], -1))
    if area < 0:
        pts = np.roll(pts[::-1], 1, axis=0)
    return pts


def unclip_rotated(
    cx: float, cy: float, w: float, h: float, angle_rad: float, unclip_ratio: float = UNCLIP_RATIO
) -> np.ndarray:
    """D5 rotated unclip: expand the min-area rect by
    ``distance = (w+1)(h+1) * ratio / (2(w+h) + 2)`` per side (the
    reference's pyclipper round-join offset + minAreaRect composition,
    postprocessor/base.py:54-81 — analytic for rectangles), then order
    points TL,TR,BR,BL. Returns (4, 2) absolute corner coords: the
    ``_unclip_quads`` of one rect."""
    rect = (np.array([v], dtype=np.float64) for v in (cx, cy, w, h, angle_rad))
    return _unclip_quads(*rect, unclip_ratio)[0]


def _runs_score_px(px_map: np.ndarray, runs: list[tuple[int, int, int]]) -> float:
    """Rotated D4 on the stub-folded pixel map: mean of nonzero
    probabilities over the component's own pixels (see module doc)."""
    vals = np.concatenate([px_map[y, xs:xe] for y, xs, xe in runs])
    probs = (255.0 - vals.astype(np.float64)) / 255.0
    nz = probs > 0
    count = int(nz.sum())
    return float(probs[nz].sum()) / count if count else 0.0


def bitmap_to_polys(
    pred: np.ndarray,
    bitmap: np.ndarray,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
) -> np.ndarray:
    """Binary map -> (N, 5, 2) rotated polygons [TL,TR,BR,BL,(0,score)]
    in relative coords clipped to [0,1] (postprocessor/base.py:83-139,
    rotated path) — the real-prob-map variant."""
    return _group_polys([_page_components(pred, bitmap, False, False, box_thresh)], unclip_ratio)[0]


def unclip_pts(
    cx: float, cy: float, w: float, h: float, angle_rad: float, unclip_ratio: float = UNCLIP_RATIO
) -> list[tuple[float, float]]:
    """D5 rotated unclip of one rect: the 4 corners, ordered TL,TR,BR,BL."""
    area = (w + 1.0) * (h + 1.0)
    length = 2.0 * (w + h) + 2.0
    d = area * unclip_ratio / length
    hw, hh = w / 2 + d, h / 2 + d
    ux, uy = math.cos(angle_rad), math.sin(angle_rad)
    vx, vy = -uy, ux
    pts = [
        (cx - ux * hw - vx * hh, cy - uy * hw - vy * hh),
        (cx + ux * hw - vx * hh, cy + uy * hw - vy * hh),
        (cx + ux * hw + vx * hh, cy + uy * hw + vy * hh),
        (cx - ux * hw + vx * hh, cy - uy * hw + vy * hh),
    ]
    # order_points, inlined: CCW-by-centroid-angle sort, start at min
    # coordinate sum, clockwise fix (shoelace)
    mx = sum(p[0] for p in pts) / 4
    my = sum(p[1] for p in pts) / 4
    pts.sort(key=lambda p: math.atan2(p[1] - my, p[0] - mx))
    start = min(range(4), key=lambda i: pts[i][0] + pts[i][1])
    pts = pts[start:] + pts[:start]
    shoelace = sum(
        pts[i][0] * pts[(i + 1) % 4][1] - pts[i][1] * pts[(i + 1) % 4][0] for i in range(4)
    )
    if shoelace < 0:
        rev = pts[::-1]
        pts = rev[-1:] + rev[:-1]
    return pts


def polys_from_labeled_runs(
    src: np.ndarray,
    pixel_mode: bool,
    ys: np.ndarray,
    xs: np.ndarray,
    xe: np.ndarray,
    lab: np.ndarray,
    box_thresh: float,
    unclip_ratio: float,
) -> np.ndarray:
    """D3 components → D6 polygons of one page, a component at a time."""
    height, width = src.shape[:2]
    order = np.argsort(lab, kind="stable")
    ys, xs, xe, lab = ys[order], xs[order], xe[order], lab[order]
    bounds = np.flatnonzero(np.r_[True, lab[1:] != lab[:-1], True]) if len(lab) else []
    polys = []
    for b, e in zip(bounds[:-1], bounds[1:]):
        rows, starts, ends = ys[b:e].tolist(), xs[b:e].tolist(), xe[b:e].tolist()
        if max(ends) - min(starts) < 3 or rows[-1] - rows[0] + 1 < 3:
            continue
        vals = np.concatenate([src[y, a:z] for y, a, z in zip(rows, starts, ends)]).astype(np.float64)
        probs = (255.0 - vals) / 255.0 if pixel_mode else vals
        nz = probs > 0
        count = int(nz.sum())
        score = float(probs[nz].sum()) / count if count else 0.0
        if score < box_thresh:
            continue
        pts = [(float(x), float(y)) for y, a, z in zip(rows, starts, ends) for x in (a, z - 1)]
        quad = unclip_pts(*min_area_rect(pts), unclip_ratio)
        polys.append([(qx / width, qy / height) for qx, qy in quad] + [(0.0, score)])
    if not polys:
        return np.zeros((0, 5, 2), dtype=np.float32)
    return np.clip(np.array(polys, dtype=np.float64).astype(np.float32), 0, 1)


def _postprocess(src, pixel_mode, binmap, box_thresh, unclip_ratio, morph_open) -> np.ndarray:
    h, w = binmap.shape
    runs = _label_runs_packed(open_3x3_packed(binmap), h, w) if morph_open else label_runs(binmap)
    return polys_from_labeled_runs(src, pixel_mode, *runs, box_thresh, unclip_ratio)


def postprocess_pixel_map_rotated(
    px_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    pix_thresh = float(np.floor(255.0 - 255.0 * bin_thresh))
    return _postprocess(px_map, True, px_map <= pix_thresh, box_thresh, unclip_ratio, morph_open)


def postprocess_prob_map_rotated(
    prob_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    return _postprocess(prob_map, False, prob_map >= bin_thresh, box_thresh, unclip_ratio, morph_open)


def resolve_lines_rotated(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """The rotated line scan with each word's y center recomputed."""
    straightened = rotate_boxes(boxes, -estimate_page_angle(boxes), (1024, 1024), min_angle=5.0)
    straight = np.concatenate((straightened.min(1), straightened.max(1)), -1)
    idxs = (straight[:, 0] + 2 * straight[:, 3] / np.median(straight[:, 3] - straight[:, 1])).argsort()
    y_med = np.median(straight[:, 3] - straight[:, 1])
    lines: list[list[int]] = []
    words: list[int] = [idxs[0]]
    y_center_sum = straight[idxs[0]][[1, 3]].mean()
    for idx in idxs[1:]:
        y_dist = abs(straight[idx][[1, 3]].mean() - y_center_sum / len(words))
        if y_dist >= y_med / 2:
            lines.extend(resolve_sub_lines(straight, words, paragraph_break))
            words = []
            y_center_sum = 0
        words.append(idx)
        y_center_sum += straight[idx][[1, 3]].mean()
    if words:
        lines.extend(resolve_sub_lines(straight, words, paragraph_break))
    return lines


def sort_boxes_rotated(boxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Rotated branch of the builder's sort (models/builder.py:55-63):
    straighten, fit straight boxes, return (order, straight_boxes)."""
    straight = _straight_fit(boxes)
    return sort_boxes(straight), straight


def rectify_loc_preds(page_loc_preds: np.ndarray, orientations: list[int]) -> np.ndarray | None:
    """G3 polygon re-orientation with one ``np.roll`` per polygon."""
    if len(orientations) == 0:
        return None
    return np.stack([np.roll(p, o, axis=0) for o, p in zip(orientations, page_loc_preds)], axis=0)


def extract_rcrops_nearest(img: np.ndarray, polys: np.ndarray) -> list[np.ndarray]:
    """G2 rotated crops with 2-D fancy indexing into the page per crop."""
    if polys.shape[0] == 0:
        return []
    h, w = img.shape[:2]
    abs_polys = polys.copy().astype(np.float64)
    abs_polys[:, :, 0] *= w
    abs_polys[:, :, 1] *= h
    crops = []
    for quad in abs_polys.tolist():
        (tlx, tly), (trx, tr_y), _, (blx, bly) = quad
        dx_u, dy_u = trx - tlx, tr_y - tly
        dx_v, dy_v = blx - tlx, bly - tly
        out_w = max(1, int(round(math.sqrt(dx_u * dx_u + dy_u * dy_u))))
        out_h = max(1, int(round(math.sqrt(dx_v * dx_v + dy_v * dy_v))))
        us = (np.arange(out_w, dtype=np.float64) + 0.5) / out_w
        vs = ((np.arange(out_h, dtype=np.float64) + 0.5) / out_h)[:, None]
        sx = tlx + us * dx_u + vs * dx_v
        sy = tly + us * dy_u + vs * dy_v
        xi = np.clip(np.floor(sx).astype(np.int64), 0, w - 1)
        yi = np.clip(np.floor(sy).astype(np.int64), 0, h - 1)
        crops.append(img[yi, xi])
    return crops
