"""Geometry kernels: crop extraction and aspect-preserving resize.

- ``extract_crops`` re-derives onnxtr/utils/geometry.py:482-511 (straight
  boxes): scale relative coords to absolute pixels, round, slice.
- ``resize_preserve`` implements the P1 resize-with-pad operator
  (reference transforms/base.py:15-93): scale the page to fit the target
  while preserving aspect ratio, then pad to the target size
  (symmetric by default). The reference interpolates bilinearly via PIL;
  this container has no PIL/cv2, so we use nearest-neighbor index
  sampling — the detection stub model is exercised through the same
  resize/pad/unpad coordinate path, which is the part that must be exact
  (padding removal math in detect_post.remove_padding).
"""

from __future__ import annotations

import numpy as np


def extract_crops(img: np.ndarray, boxes: np.ndarray) -> list[np.ndarray]:
    """Crop sub-images for relative straight boxes (N, 4) [xmin,ymin,xmax,ymax].

    Mirrors utils/geometry.py:482-511 (channels_last): scale to absolute,
    round to int, slice rows [ymin:ymax] and cols [xmin:xmax].
    """
    if boxes.shape[0] == 0:
        return []
    if boxes.shape[1] != 4:
        raise AssertionError("boxes are expected to be relative and in order (xmin, ymin, xmax, ymax)")
    _boxes = boxes.copy()
    h, w = img.shape[:2]
    if not np.issubdtype(_boxes.dtype, np.integer):
        _boxes[:, [0, 2]] *= w
        _boxes[:, [1, 3]] *= h
        _boxes = _boxes.round().astype(int)
        _boxes[2:] += 1  # reference geometry.py:505 (off-by-design quirk kept)
    return [img[b[1] : b[3], b[0] : b[2]].copy() for b in _boxes]


# Nearest-neighbor index cache: crop/page shapes repeat heavily (glyph
# geometry is quantized), and building the two index vectors costs ~6
# numpy calls per resize — an order of magnitude more than the gather
# itself for word crops. Keyed by exact (h, w, target_h, target_w), so
# cached indices are the identical arrays the direct computation yields.
_NN_IDX_CACHE: dict[tuple[int, int, int, int], tuple[np.ndarray, np.ndarray, int, int]] = {}


def _nn_indices(h: int, w: int, target_h: int, target_w: int) -> tuple[np.ndarray, np.ndarray, int, int]:
    key = (h, w, target_h, target_w)
    hit = _NN_IDX_CACHE.get(key)
    if hit is None:
        scale = min(target_h / h, target_w / w)
        new_h, new_w = max(1, round(h * scale)), max(1, round(w * scale))
        ys = np.minimum((np.arange(new_h) / scale).astype(np.int64), h - 1)
        xs = np.minimum((np.arange(new_w) / scale).astype(np.int64), w - 1)
        if len(_NN_IDX_CACHE) >= 4096:
            _NN_IDX_CACHE.clear()
        hit = _NN_IDX_CACHE[key] = (ys, xs, new_h, new_w)
    return hit


def _gather(img: np.ndarray, ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """``img[ys[:, None], xs]`` as two ``take`` calls: whole rows first
    (one memcpy each), then columns on the row-reduced plane. Same
    values as the fancy index at 1/3 of its cost (the 2-D fancy index
    walks a broadcast index pair per pixel; the ndarray method skips
    the ``np.take`` wrapper, which is most of a word crop's cost).

    A grayscale page stored as a stride-0 RGB broadcast
    (imaging.decode_image) gathers ONE plane and re-broadcasts it
    read-only — all three channels alias the same memory, so the
    values are identical."""
    if img.ndim == 3 and img.shape[2] == 3 and img.strides[2] == 0:
        out0 = img[:, :, 0].take(ys, axis=0).take(xs, axis=1)
        return np.broadcast_to(out0[:, :, None], out0.shape + (3,))
    return img.take(ys, axis=0).take(xs, axis=1)


def resize_preserve(
    img: np.ndarray,
    target_h: int,
    target_w: int,
    symmetric_pad: bool = True,
    pad_value: int = 0,
) -> np.ndarray:
    """Resize (nearest-neighbor) preserving aspect ratio, pad to target.

    The scaled content occupies ``round(h*scale) x round(w*scale)`` with
    ``scale = min(target_h/h, target_w/w)``; symmetric padding centers it
    (half the slack before, reference transforms/base.py:59-71).
    """
    h, w = img.shape[:2]
    ys, xs, new_h, new_w = _nn_indices(h, w, target_h, target_w)
    resized = _gather(img, ys, xs)

    out_shape = (target_h, target_w) + img.shape[2:]
    out = np.full(out_shape, pad_value, dtype=img.dtype)
    if symmetric_pad:
        off_y = (target_h - new_h) // 2
        off_x = (target_w - new_w) // 2
    else:
        off_y = off_x = 0
    out[off_y : off_y + new_h, off_x : off_x + new_w] = resized
    return out


def resize_stretch(img: np.ndarray, target_h: int, target_w: int) -> np.ndarray:
    """Anisotropic resize to exactly (target_h, target_w): the
    reference's ``Resize(preserve_aspect_ratio=False)`` branch
    (transforms/base.py:41-50 — a plain cv2.resize to output_size).
    Nearest-neighbor gather like the other resize kernels; relative
    box coordinates on the stretched map equal page-relative
    coordinates directly, so no padding removal applies. A stride-0
    RGB page comes back as a read-only broadcast (``_gather``), like
    ``resize_unpadded``'s."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(target_h) * (h / target_h)).astype(np.int64), h - 1)
    xs = np.minimum((np.arange(target_w) * (w / target_w)).astype(np.int64), w - 1)
    return _gather(img, ys, xs)


def resize_unpadded(img: np.ndarray, target_h: int, target_w: int) -> np.ndarray:
    """Aspect-preserving resize WITHOUT padding: content only, shape
    (new_h, new_w, ...) with new_h <= target_h, new_w <= target_w.

    Same scale/rounding as ``resize_preserve`` (scale = min of ratios,
    round), so content pixels are identical — the batch step pads to the
    batch's max width instead of a fixed one (ORT dynamic axes analog;
    padding columns are pure waste in the T axis of the logits)."""
    h, w = img.shape[:2]
    ys, xs, _, _ = _nn_indices(h, w, target_h, target_w)
    return _gather(img, ys, xs)
