"""Rotated-geometry kernels (G5/G7 + the rotated branch of B1).

Exact re-derivations of the reference's rotated-box math:

- ``remap_boxes``          — utils/geometry.py:289-312
- ``rotate_boxes``         — utils/geometry.py:315-369 (straight (N,4) or
  rotated (N,4,2) relative boxes rotated about the page center when
  |angle| exceeds min_angle; optional remap to a padded target shape)
- ``estimate_page_angle``  — utils/geometry.py:439-454 (median arctan of
  reading-direction left→right point pairs)
- ``resolve_lines_rotated`` — models/builder.py:55-63 + 103-146:
  straighten rotated boxes by -estimate_page_angle about a 1024² frame,
  take min/max corners, then the standard straight sort and line scan.
- ``extract_rcrops_nearest`` — G2 analog of utils/geometry.py:514-625:
  per-quadrilateral inverse-affine crop. The reference warps with
  cv2.warpPerspective/​warpAffine (bilinear); with no cv2 here we
  inverse-map with nearest sampling — same geometry, sampling filter
  differs (documented stub-adjacent deviation; the straight default
  path never calls this).
"""

from __future__ import annotations

import numpy as np

from onnxtr_spark.kernels.builder import PARAGRAPH_BREAK, resolve_lines


def remap_boxes(loc_preds: np.ndarray, orig_shape: tuple[int, int], dest_shape: tuple[int, int]) -> np.ndarray:
    if len(dest_shape) != 2:
        raise ValueError(f"Mask length should be 2, was found at: {len(dest_shape)}")
    if len(orig_shape) != 2:
        raise ValueError(f"Image_shape length should be 2, was found at: {len(orig_shape)}")
    orig_height, orig_width = orig_shape
    dest_height, dest_width = dest_shape
    mboxes = loc_preds.copy()
    mboxes[:, :, 0] = ((loc_preds[:, :, 0] * orig_width) + (dest_width - orig_width) / 2) / dest_width
    mboxes[:, :, 1] = ((loc_preds[:, :, 1] * orig_height) + (dest_height - orig_height) / 2) / dest_height
    return mboxes


def rotate_boxes(
    loc_preds: np.ndarray,
    angle: float,
    orig_shape: tuple[int, int],
    min_angle: float = 1.0,
    target_shape: tuple[int, int] | None = None,
) -> np.ndarray:
    _boxes = loc_preds.copy()
    if _boxes.ndim == 2:
        _boxes = np.stack(
            [_boxes[:, [0, 1]], _boxes[:, [2, 1]], _boxes[:, [2, 3]], _boxes[:, [0, 3]]],
            axis=1,
        )
    if abs(angle) < min_angle or abs(angle) > 90 - min_angle:
        return _boxes
    angle_rad = angle * np.pi / 180.0
    rotation_mat = np.array(
        [[np.cos(angle_rad), -np.sin(angle_rad)], [np.sin(angle_rad), np.cos(angle_rad)]],
        dtype=_boxes.dtype,
    )
    points = np.stack((_boxes[:, :, 0] * orig_shape[1], _boxes[:, :, 1] * orig_shape[0]), axis=-1)
    image_center = (orig_shape[1] / 2, orig_shape[0] / 2)
    rotated_points = image_center + np.matmul(points - image_center, rotation_mat)
    rotated_boxes = np.stack(
        (rotated_points[:, :, 0] / orig_shape[1], rotated_points[:, :, 1] / orig_shape[0]), axis=-1
    )
    if target_shape is not None:
        rotated_boxes = remap_boxes(rotated_boxes, orig_shape=orig_shape, dest_shape=target_shape)
    return rotated_boxes


def estimate_page_angle(polys: np.ndarray) -> float:
    xleft = polys[:, 0, 0] + polys[:, 3, 0]
    yleft = polys[:, 0, 1] + polys[:, 3, 1]
    xright = polys[:, 1, 0] + polys[:, 2, 0]
    yright = polys[:, 1, 1] + polys[:, 2, 1]
    with np.errstate(divide="raise", invalid="raise"):
        try:
            return float(np.median(np.arctan((yleft - yright) / (xright - xleft)) * 180 / np.pi))
        except FloatingPointError:
            return 0.0


def _straight_fit(boxes: np.ndarray) -> np.ndarray:
    """Straighten rotated (N,4,2) boxes by -estimate_page_angle about a
    1024² frame and fit (N,4) straight boxes [xmin, ymin, xmax, ymax]."""
    straightened = rotate_boxes(
        loc_preds=boxes, angle=-estimate_page_angle(boxes), orig_shape=(1024, 1024), min_angle=5.0
    )
    return np.concatenate((straightened.min(1), straightened.max(1)), -1)


def resolve_lines_rotated(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """resolve_lines for rotated (N,4,2) boxes (builder.py:103-146):
    the standard sort and running-mean scan over the straightened fit."""
    return resolve_lines(_straight_fit(boxes), paragraph_break)


def rectify_crops(crops: list[np.ndarray], orientations: list[int]) -> list[np.ndarray]:
    """G3 crop rectification (models/_utils.py:154-171): rotate each
    crop by the INVERSE of its predicted orientation class (class k =
    stored at k*90° ccw -> np.rot90 by 4-k)."""
    orientations = [4 - pred if pred != 0 else 0 for pred in orientations]
    return (
        [crop if o == 0 else np.rot90(crop, o) for o, crop in zip(orientations, crops)]
        if len(orientations) > 0
        else []
    )


def rectify_loc_preds(page_loc_preds: np.ndarray, orientations: list[int]) -> np.ndarray | None:
    """G3 polygon re-orientation (models/_utils.py:173-190): roll each
    quadrangle's points by the predicted orientation so TL,TR,BR,BL is
    the READABLE order — ``np.roll(p, o, axis=0)`` of every polygon as
    one gather, row i taking point (i - o) mod 4."""
    if len(orientations) == 0:
        return None
    n = page_loc_preds.shape[1]
    rows = np.arange(len(orientations))[:, None]
    return page_loc_preds[rows, (np.arange(n) - np.asarray(orientations)[:, None]) % n]


def word_order_rotated(polys: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> tuple[np.ndarray, np.ndarray]:
    """Flatten ``resolve_lines_rotated`` into per-word (rank, line_id)
    arrays aligned with the input (N,4,2) poly order — the rotated
    counterpart of builder.word_order (same contract, consumed by the
    fused stage's span assembly)."""
    n = polys.shape[0]
    rank = np.empty(n, dtype=np.int64)
    line_id = np.empty(n, dtype=np.int64)
    pos = 0
    for li, line in enumerate(resolve_lines_rotated(polys, paragraph_break)):
        for idx in line:
            rank[idx] = pos
            line_id[idx] = li
            pos += 1
    return rank, line_id


_FRAC_CACHE: dict[int, np.ndarray] = {}


def _center_fracs(n: int) -> np.ndarray:
    """(arange(n) + 0.5) / n, cached — crop dims repeat heavily and the
    two index vectors cost more than the gather for word-sized crops."""
    hit = _FRAC_CACHE.get(n)
    if hit is None:
        if len(_FRAC_CACHE) >= 4096:
            _FRAC_CACHE.clear()
        hit = _FRAC_CACHE[n] = (np.arange(n, dtype=np.float64) + 0.5) / n
    return hit


def extract_rcrops_nearest(img: np.ndarray, polys: np.ndarray) -> list[np.ndarray]:
    """Crop rotated quadrilaterals by inverse affine mapping (G2 analog).

    For each relative (4,2) poly ordered TL,TR,BR,BL: output size
    (round(|TL-BL|), round(|TL-TR|)) like the reference's dst rectangle;
    each output pixel samples the source at
    TL + u*(TR-TL)/w + v*(BL-TL)/h (nearest). Samples are taken from the
    page as one contiguous (H·W, C) plane: a row ``take`` per crop
    instead of 2-D fancy indexing into a strided page view.
    """
    import math

    if polys.shape[0] == 0:
        return []
    h, w = img.shape[:2]
    plane = np.ascontiguousarray(img).reshape((h * w,) + img.shape[2:])
    abs_polys = polys.copy().astype(np.float64)
    abs_polys[:, :, 0] *= w
    abs_polys[:, :, 1] *= h
    crops = []
    for quad in abs_polys.tolist():  # plain floats: 4 corners per quad
        (tlx, tly), (trx, tr_y), _, (blx, bly) = quad
        dx_u, dy_u = trx - tlx, tr_y - tly
        dx_v, dy_v = blx - tlx, bly - tly
        # sqrt(dx²+dy²) matches the previous np.linalg.norm bit-for-bit
        out_w = max(1, int(round(math.sqrt(dx_u * dx_u + dy_u * dy_u))))
        out_h = max(1, int(round(math.sqrt(dx_v * dx_v + dy_v * dy_v))))
        us = _center_fracs(out_w)
        vs = _center_fracs(out_h)[:, None]
        # broadcast form of tl + u·(TR-TL) + v·(BL-TL): the same fp adds
        # in the same order as the previous outer-product form; floor of
        # pixel-center coordinates: exact slice equivalence for
        # axis-aligned quads (round() would banker's-round .5 centers)
        xi = np.floor(tlx + us * dx_u + vs * dx_v).astype(np.int64)
        yi = np.floor(tly + us * dy_u + vs * dy_v).astype(np.int64)
        np.clip(xi, 0, w - 1, out=xi)
        np.clip(yi, 0, h - 1, out=yi)
        yi *= w
        yi += xi
        crops.append(plane.take(yi, axis=0))
    return crops
