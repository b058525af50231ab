"""Per-page D1-D6 straight postprocess: the scalar oracle.

This is the page-at-a-time chain ``kernels/detect_post.py`` ran before
its batched kernel: a packed 3x3 opening that pads with foreground for
erosion and background for dilation at the page border, run labeling,
then one Python iteration per component with a ``.mean()`` over the
box's inclusive clipped rect and a scalar unclip. The runtime kernel
stacks a group of pages and vectorizes the box stage;
``tests/test_detect_post_batched.py`` asserts it returns exactly what
this chain returns, page by page. ``binary_open_3x3`` and
``connected_components`` unpack the runtime's packed opening and
labeling into a 0/1 map and a rect list for the property tests.
"""

from __future__ import annotations

import math

import numpy as np

from onnxtr_spark.kernels.detect_post import (
    BIN_THRESH,
    BOX_THRESH,
    UNCLIP_RATIO,
    _label_runs_packed,
    _open_3x3_packed,
    _rects_from_runs,
    label_runs,
)


def open_3x3_packed(bitmap: np.ndarray) -> np.ndarray:
    """3x3 opening of one page in packed-bit form, pad bits cleared."""
    h, w = bitmap.shape
    bits = np.packbits(bitmap if bitmap.dtype == np.bool_ else bitmap.astype(bool), axis=1)

    def sh_hi(a: np.ndarray, border: int) -> np.ndarray:
        out = a >> 1
        out[:, 1:] |= (a[:, :-1] & 1) << 7
        if border:
            out[:, 0] |= 0x80
        return out

    def sh_lo(a: np.ndarray, border: int) -> np.ndarray:
        out = (a << 1).astype(np.uint8)
        out[:, :-1] |= a[:, 1:] >> 7
        if border:
            out[:, -1] |= 0x01
        return out

    pad_bits = (-w) % 8
    if pad_bits:
        edge = np.uint8(((1 << pad_bits) - 1))
        bits_er = bits.copy()
        bits_er[:, -1] |= edge
    else:
        bits_er = bits

    er = bits_er & sh_hi(bits_er, 1) & sh_lo(bits_er, 1)
    er = er & np.vstack([np.full((1, er.shape[1]), 0xFF, np.uint8), er[:-1]]) \
             & np.vstack([er[1:], np.full((1, er.shape[1]), 0xFF, np.uint8)])
    if pad_bits:
        er[:, -1] &= np.uint8(0xFF ^ edge)
    di = er | sh_hi(er, 0) | sh_lo(er, 0)
    di = di | np.vstack([np.zeros((1, di.shape[1]), np.uint8), di[:-1]]) \
            | np.vstack([di[1:], np.zeros((1, di.shape[1]), np.uint8)])
    if pad_bits:
        di[:, -1] &= np.uint8(0xFF ^ edge)
    return di


def binary_open_3x3(bitmap: np.ndarray) -> np.ndarray:
    """3x3 morphological opening of a binary (0/1 uint8) map.

    Matches cv2.morphologyEx(MORPH_OPEN, ones((3,3))) on binary input:
    erosion pads with foreground (border pixels survive), dilation pads
    with background.
    """
    h, w = bitmap.shape
    return np.unpackbits(_open_3x3_packed(bitmap), axis=1)[:, :w]


def connected_components(bitmap: np.ndarray) -> list[tuple[int, int, int, int]]:
    """8-connected components of a binary map -> bounding rects (x, y, w, h).

    Vectorized run labeling (``label_runs``); rects are returned in
    raster order of the component's topmost-leftmost run (deterministic,
    identical to the previous union-find implementation).
    """
    return [tuple(r) for r in _rects_from_runs(*label_runs(bitmap)).tolist()]


def rects_from_runs(ys, xs, xe, lab) -> list[tuple[int, int, int, int]]:
    if len(ys) == 0:
        return []
    roots, inv = np.unique(lab, return_inverse=True)
    k = len(roots)
    x0 = np.full(k, np.iinfo(np.int64).max)
    y0 = np.full(k, np.iinfo(np.int64).max)
    x1 = np.zeros(k, dtype=np.int64)
    y1 = np.zeros(k, dtype=np.int64)
    np.minimum.at(x0, inv, xs)
    np.minimum.at(y0, inv, ys)
    np.maximum.at(x1, inv, xe)
    np.maximum.at(y1, inv, ys + 1)
    return list(zip(x0.tolist(), y0.tolist(), (x1 - x0).tolist(), (y1 - y0).tolist()))


def components(binmap: np.ndarray, morph_open: bool) -> list[tuple[int, int, int, int]]:
    h, w = binmap.shape
    if morph_open:
        return rects_from_runs(*_label_runs_packed(open_3x3_packed(binmap), h, w))
    return rects_from_runs(*label_runs(binmap))


def box_score(pred: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float) -> float:
    h, w = pred.shape[:2]
    x0 = min(max(math.floor(xmin), 0), w - 1)
    x1 = min(max(math.ceil(xmax), 0), w - 1)
    y0 = min(max(math.floor(ymin), 0), h - 1)
    y1 = min(max(math.ceil(ymax), 0), h - 1)
    return float(pred[y0 : y1 + 1, x0 : x1 + 1].mean())


def unclip_rect(x: int, y: int, w: int, h: int, unclip_ratio: float = UNCLIP_RATIO) -> tuple[int, int, int, int]:
    area = float(w * h)
    length = 2.0 * (w + h)
    if length == 0:
        return x, y, w, h
    d = area * unclip_ratio / length
    x0 = math.floor(x - d)
    y0 = math.floor(y - d)
    x1 = math.ceil(x + w + d)
    y1 = math.ceil(y + h + d)
    return x0, y0, x1 - x0, y1 - y0


def boxes_from_components(pred, comps, height, width, box_thresh, unclip_ratio) -> np.ndarray:
    boxes: list[list[float]] = []
    for x, y, w, h in comps:
        if w < 3 or h < 3:
            continue
        score = box_score(pred, x, y, x + w, y + h)
        if score < box_thresh:
            continue
        ex, ey, ew, eh = unclip_rect(x, y, w, h, unclip_ratio)
        boxes.append([ex / width, ey / height, (ex + ew) / width, (ey + eh) / height, score])
    if not boxes:
        return np.zeros((0, 5), dtype=pred.dtype)
    return np.clip(np.asarray(boxes, dtype=pred.dtype), 0, 1)


def bitmap_to_boxes(pred, bitmap, box_thresh=BOX_THRESH, unclip_ratio=UNCLIP_RATIO) -> np.ndarray:
    height, width = bitmap.shape[:2]
    return boxes_from_components(pred, components(bitmap, False), height, width, box_thresh, unclip_ratio)


def postprocess_prob_map(
    prob_map, bin_thresh=BIN_THRESH, box_thresh=BOX_THRESH, unclip_ratio=UNCLIP_RATIO, morph_open=True
) -> np.ndarray:
    binmap = prob_map >= bin_thresh
    height, width = binmap.shape[:2]
    return boxes_from_components(
        prob_map, components(binmap, morph_open), height, width, box_thresh, unclip_ratio
    )


def postprocess_pixel_map(
    px_map, bin_thresh=BIN_THRESH, box_thresh=BOX_THRESH, unclip_ratio=UNCLIP_RATIO, morph_open=True
) -> np.ndarray:
    pix_thresh = float(np.floor(255.0 - 255.0 * bin_thresh))
    binmap = px_map <= pix_thresh
    height, width = binmap.shape[:2]
    boxes: list[list[float]] = []
    for x, y, w, h in components(binmap, morph_open):
        if w < 3 or h < 3:
            continue
        x0 = min(max(x, 0), width - 1)
        x1 = min(max(x + w, 0), width - 1)
        y0 = min(max(y, 0), height - 1)
        y1 = min(max(y + h, 0), height - 1)
        score = (255.0 - float(px_map[y0 : y1 + 1, x0 : x1 + 1].mean())) / 255.0
        if score < box_thresh:
            continue
        ex, ey, ew, eh = unclip_rect(x, y, w, h, unclip_ratio)
        boxes.append([ex / width, ey / height, (ex + ew) / width, (ey + eh) / height, score])
    if not boxes:
        return np.zeros((0, 5), dtype=np.float32)
    return np.clip(np.asarray(boxes, dtype=np.float32), 0, 1)
