"""Per-page rotated page-path kernels: the scalar oracles.

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

from onnxtr_spark.kernels.builder import PARAGRAPH_BREAK, resolve_sub_lines
from onnxtr_spark.kernels.detect_post import BIN_THRESH, BOX_THRESH, UNCLIP_RATIO, _label_runs_packed, label_runs
from onnxtr_spark.kernels.rotated import estimate_page_angle, rotate_boxes
from onnxtr_spark.kernels.rotated_post import min_area_rect
from tests.detect_post_oracle import open_3x3_packed


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
