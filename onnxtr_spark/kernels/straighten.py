"""G4 arbitrary-angle page straightening: skew estimation from line-like
contours (reference models/_utils.py:33-151 ``estimate_orientation``).

Re-derivation without cv2:

- contours → 8-connected components as row runs (detect_post.
  label_runs); contour area → the component's pixel count (a solid
  blob's cv2.contourArea is the same quantity up to the boundary ring);
- cv2.minAreaRect → rotating calipers (rotated_post.
  _rects_for_components),
  with the reference's version-proof normalization: force w to be the
  long side (w < h → swap + angle−90), then fold the angle into
  (−90, 90] (reference _utils.py:96-106);
- line-likeness: w/h > ratio_threshold_for_lines collects the angle
  (after normalization w ≥ h, so the reference's vertical-lines elif is
  unreachable — kept out, noted here for parity audits);
- skew = −round(−median_low(angles)), 0 when the median is 0 or ±90
  (reference _utils.py:117-127 sign dance, median_low to avoid
  outlier-averaging);
- ``general_page_orientation`` (angle, confidence) from a page-level
  classifier: confident → it becomes the base angle and the bitmap is
  pre-rotated to it; not confident → the bitmap is dilated with a
  (⌊w/100⌋, ⌊h/100⌋) rect kernel to merge words into lines
  (reference _utils.py:70-81); the perpendicular/equal-magnitude
  special cases return the general orientation (reference 137-150).

Deviation (documented): the fused stage feeds the NATIVE-resolution
threshold bitmap rather than the model-scale seg map — the stub
detector is resolution-free and longer runs measure skew more
accurately; the reference uses the model-scale map because that is
what its CNN emits.
"""

from __future__ import annotations

import math
from statistics import median_low

import numpy as np


def binary_dilate_rect(bitmap: np.ndarray, kx: int, ky: int) -> np.ndarray:
    """Binary dilation with a kx×ky rect kernel, separable sliding-max
    (cv2.dilate(MORPH_RECT) analog; anchor at (kx//2, ky//2))."""
    out = bitmap
    if kx > 1:
        acc = np.zeros_like(out)
        for dx in range(-(kx // 2), kx - kx // 2):
            src = np.roll(out, dx, axis=1)
            if dx > 0:
                src[:, :dx] = 0
            elif dx < 0:
                src[:, dx:] = 0
            np.maximum(acc, src, out=acc)
        out = acc
    if ky > 1:
        acc = np.zeros_like(out)
        for dy in range(-(ky // 2), ky - ky // 2):
            src = np.roll(out, dy, axis=0)
            if dy > 0:
                src[:dy, :] = 0
            elif dy < 0:
                src[dy:, :] = 0
            np.maximum(acc, src, out=acc)
        out = acc
    return out


def _component_stats_arrays(work: np.ndarray, lower_area: int) -> list[tuple[float, float, float, float]]:
    """(ratio, w_long, h_short, angle_deg) per component with
    area > lower_area, in raster component order. Areas are exact
    integer reduceats over the component's runs; the min-area rect
    (``rotated_post._rects_for_components``) consumes each row's
    (min-x, max-x) endpoints, whose hull — and hence rect — equals the
    full run-endpoint hull because interior run endpoints are never
    strict hull vertices. The rect is then normalized as the module
    docstring describes."""
    from onnxtr_spark.kernels.detect_post import label_runs
    from onnxtr_spark.kernels.rotated_post import _by_component, _rects_for_components

    runs = label_runs(work)
    if len(runs[0]) == 0:
        return []
    ys, xs, xe, comp_b = _by_component(*runs)
    areas = np.add.reduceat(xe - xs, comp_b)
    _, _, ws, hs, angs = _rects_for_components(ys, xs, xe, comp_b, np.flatnonzero(areas > lower_area))
    stats: list[tuple[float, float, float, float]] = []
    for w, h, ang in zip(ws.tolist(), hs.tolist(), angs.tolist()):
        deg = math.degrees(ang)
        if w < h:
            w, h = h, w
            deg -= 90
        while deg <= -90:
            deg += 180
        while deg > 90:
            deg -= 180
        ratio = max(w / h, h / w) if w > 0 and h > 0 else 0.0
        stats.append((ratio, w, h, deg))
    return stats


def estimate_orientation(
    bitmap: np.ndarray,
    general_page_orientation: tuple[int, float] | None = None,
    n_ct: int = 70,
    ratio_threshold_for_lines: float = 3.0,
    min_confidence: float = 0.2,
    lower_area: int = 100,
) -> int:
    """Estimated page angle in integer degrees (clockwise-positive in
    the reference's terms; in this repo's convention the return value is
    exactly what ``imaging.rotate_image_nearest(page, angle)`` needs to
    straighten the page — pinned by test)."""
    page_orientation, conf = general_page_orientation or (0, 0.0)
    is_confident = page_orientation is not None and conf >= min_confidence
    base_angle = page_orientation if is_confident else 0

    work = bitmap
    if is_confident:
        if base_angle % 360 != 0:
            # pre-rotate the bitmap to the general orientation
            # (90°-multiples: exact rot90; reference rotates the padded
            # map with warpAffine)
            work = np.rot90(work, (-base_angle // 90) % 4)
    else:
        h, w = bitmap.shape[:2]
        work = binary_dilate_rect(work, max(1, w // 100), max(1, h // 100))

    stats = _component_stats_arrays(work, lower_area)
    # most line-like first (reference sorts by max width/length ratio)
    stats.sort(key=lambda s: s[0], reverse=True)
    angles = [
        deg
        for _, cw, ch, deg in stats[:n_ct]
        if ch > 0 and cw / ch > ratio_threshold_for_lines
    ]

    if not angles:
        skew_angle = 0
    else:
        median = -median_low(angles)
        skew_angle = -round(median) if abs(median) != 0 else 0
        if abs(skew_angle) == 90:  # vertical detection of horizontal lines
            skew_angle = 0

    final_angle = base_angle + skew_angle
    while final_angle > 180:
        final_angle -= 360
    while final_angle <= -180:
        final_angle += 360

    if is_confident:
        if abs(skew_angle) % 90 == 0:  # perpendicular estimate: trust the model
            return int(page_orientation)
        if abs(skew_angle) == abs(page_orientation) and page_orientation != 0:
            return int(page_orientation)  # sign-swap / degenerate estimate
    return int(final_angle)
