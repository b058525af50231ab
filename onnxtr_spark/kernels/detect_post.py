"""Detection post-processing: probability map -> relative word boxes.

Re-derives the reference's GeneralDetectionPostProcessor straight-page
path (onnxtr/models/detection/postprocessor/base.py:20-139 and
onnxtr/models/detection/core.py:33-90) without cv2/pyclipper:

- D1 binarize: ``prob_map >= bin_thresh`` (core.py:89; FAST defaults
  bin=0.1, box=0.1 — models/detection/models/fast.py:57-58).
- D2 morphological open, 3x3 ones kernel (core.py:86, kernel core.py:28).
  cv2 border semantics: erosion treats out-of-image as foreground,
  dilation as background.
- D3 connected components: the reference uses
  ``cv2.findContours(RETR_EXTERNAL)`` (postprocessor/base.py:103); we use
  two-pass union-find labeling — for straight pages only the component's
  bounding rectangle is consumed downstream, which is identical.
- small-component filter: contour coordinate span (max-min) < 2 dropped
  (postprocessor/base.py:106), i.e. pixel extent < 3.
- D4 box score: mean prob over the (clipped) bounding rect
  (core.py:46-52); drop below box_thresh (postprocessor/base.py:116).
- D5 unclip expansion: the reference offsets the polygon outward by
  ``distance = area * unclip_ratio / length`` with pyclipper round joins
  and takes the bounding rect (postprocessor/base.py:38-81,
  unclip_ratio=1.5 at :36). For an axis-aligned rectangle, the round-join
  offset's bounding rect is exactly the rectangle grown by ``distance``
  on each side — computed analytically here. cv2.boundingRect returns
  integer x, y, w, h (floor/ceil), matched via int truncation of the
  grown rect.
- D6 relative coords + clip to [0,1] (postprocessor/base.py:126-128,137).
- P8 padding removal for aspect-preserving resize
  (onnxtr/models/detection/_utils/base.py:12-62), symmetric and
  asymmetric, straight path.

D1-D6 run once per GROUP of pages (``postprocess_pixel_maps`` /
``postprocess_prob_maps``; the one-page calls are groups of one), so the
~30 NumPy calls of opening and labeling and the box stage are paid per
group, not per page. The group's maps are stacked vertically, each page
right-padded to the widest one, with one separator row above, between
and below the pages, and the binary stack is kept as packed bits.
Border rule: separator rows and pad columns count as foreground during
erosion and are cleared before dilation and before labeling. A page
pixel's 3x3 neighbourhood reaches at most one row or column past its
page, and there it meets a separator row or a pad column (or the stack
edge, which the shifts treat the same way), so every page sees exactly
cv2's per-page border semantics. The zero separator rows keep
8-connected components inside their page; components map back to
their page by row offset, in per-page raster order. The uint8 path's D4
score is an exact int64 sum over the rect (gather + ``np.add.reduceat``;
integer sums are exact in float64, so it equals the per-box
``.mean()`` bit for bit). The prob-map path keeps a per-box float32
``.mean()``: its pairwise float32 sum has no exact vectorized twin.
"""

from __future__ import annotations

import numpy as np

BIN_THRESH = 0.1  # reference: models/detection/models/fast.py:57
BOX_THRESH = 0.1  # reference: models/detection/models/fast.py:58
UNCLIP_RATIO = 1.5  # reference: models/detection/postprocessor/base.py:36


def binary_open_3x3(bitmap: np.ndarray) -> np.ndarray:
    """3x3 morphological opening of a binary (0/1 uint8) map.

    Matches cv2.morphologyEx(MORPH_OPEN, ones((3,3))) on binary input:
    erosion pads with foreground (border pixels survive), dilation pads
    with background.
    """
    h, w = bitmap.shape
    return np.unpackbits(_open_3x3_packed(bitmap), axis=1)[:, :w]


def _open_3x3_packed(bitmap: np.ndarray) -> np.ndarray:
    """``binary_open_3x3`` in packed-bit form (pad bits beyond ``w``
    CLEARED, so ``_label_runs_packed`` can consume it directly without
    the unpack/repack roundtrip): the stacked opening over a group of
    one page."""
    stack, _, inside = _stack([bitmap], False, np.bool_)
    return _open_packed(np.packbits(stack, axis=1), inside)[1:-1]


def _open_packed(bits: np.ndarray, inside: np.ndarray) -> np.ndarray:
    """3x3 opening of a packed page stack (``_stack``): bits outside
    ``inside`` (separator rows, pad columns) are foreground for erosion
    and cleared before dilation and in the result — the module
    docstring's border rule."""
    # Bit-packed separable 3x3 (the ones-kernel factorizes into
    # rows×cols): the map lives as h×(w/8) bytes (~32 KB for 512²), so
    # the shift/AND/OR passes touch 8× less memory than byte-per-pixel
    # — this kernel is DRAM-bound at high core counts. Big-endian
    # packing: col 0 = bit 7.

    def sh_hi(a: np.ndarray, border: int) -> np.ndarray:
        """Pattern shifted one column toward higher col index."""
        out = a >> 1
        out[:, 1:] |= (a[:, :-1] & 1) << 7
        if border:
            out[:, 0] |= 0x80
        return out

    def sh_lo(a: np.ndarray, border: int) -> np.ndarray:
        """Pattern shifted one column toward lower col index."""
        out = (a << 1).astype(np.uint8)
        out[:, :-1] |= a[:, 1:] >> 7
        if border:
            out[:, -1] |= 0x01
        return out

    outside = ~inside
    er = bits | outside
    er &= sh_hi(er, 1) & sh_lo(er, 1)
    # vertical pass in place: the first and last stack rows are
    # separators, cleared below, so the stack edges need no fill. The
    # second line reads rows the first already combined with their
    # upper neighbour; AND (and OR below) is idempotent, so each row
    # ends as the AND of itself and both neighbours.
    er[1:] &= er[:-1].copy()
    er[:-1] &= er[1:].copy()
    er &= inside
    di = er | sh_hi(er, 0) | sh_lo(er, 0)
    di[1:] |= di[:-1].copy()
    di[:-1] |= di[1:].copy()
    di &= inside
    return di


def label_runs(bitmap: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """8-connected component labeling over row runs, fully vectorized.

    Returns (ys, xs, xe, lab): one entry per horizontal run in raster
    order (runs = [xs, xe) on row ys), with ``lab`` the run index of the
    component's topmost-leftmost run — i.e. components are identified by
    the minimum run index they contain, so ascending unique label order
    equals the raster order of each component's first run (the exact
    deterministic contract the old union-find loop had).

    Vectorization: run extraction is one diff over the padded map; the
    8-connectivity edges between a run and the previous row's runs are
    found with two searchsorted calls over composite (row, x) keys (the
    overlapping runs of the previous row form a contiguous index range
    because runs within a row are disjoint and sorted); the component
    labels are resolved by min-label propagation with pointer jumping
    (O(log diameter) vectorized rounds) instead of a per-run Python
    union-find loop — same fixpoint (min run index per component).
    """
    h, w = bitmap.shape
    # Packed-bit run extraction: transitions are found on the h×(w/8)
    # byte map instead of diffing the h×(w+2) int8 map — ~6× less
    # memory traffic for the two full-map scans (start bits are
    # ``b & ~prev``, end bits ``prev & ~b``, prev = the column-left
    # pattern, exactly the padded-diff's +1/−1 events). A zero byte
    # column is appended so a run ending at column w has a bit to land
    # on; packbits' zero pad bits handle the non-multiple-of-8 case.
    # Within a row, runs alternate start < end < start …, so the two
    # raster-ordered nonzero scans yield aligned (xs, xe) pairs — the
    # same arrays the diff produced.
    bits = np.packbits(bitmap if bitmap.dtype == np.bool_ else bitmap.astype(bool), axis=1)  # col 0 = bit 7
    return _label_runs_packed(bits, h, w)


def _label_runs_packed(
    bits: np.ndarray, h: int, w: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``label_runs`` over an already-packed bit map (pad bits beyond
    ``w`` must be clear — ``_open_3x3_packed`` guarantees it)."""
    bits = np.concatenate([bits, np.zeros((h, 1), dtype=np.uint8)], axis=1)
    prev = bits >> 1
    prev[:, 1:] |= (bits[:, :-1] & 1) << 7
    start_p = bits & ~prev
    end_p = prev & ~bits

    def _positions(packed: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        ry, rb = np.nonzero(packed)
        if len(ry) == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z
        exp = np.unpackbits(packed[ry, rb][:, None], axis=1)
        si, bitpos = np.nonzero(exp)
        return ry[si].astype(np.int64), rb[si].astype(np.int64) * 8 + bitpos

    ys, xs = _positions(start_p)
    ys_e, xe = _positions(end_p)
    n = len(ys)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z

    # 8-connectivity edges to the previous row: prev run overlaps iff
    # pxs <= xe and pxe >= xs (the +/-1 extension on integer runs). With
    # composite keys k = y * K + x (K > any x) the matching prev-row runs
    # are exactly the contiguous searchsorted range — runs of earlier
    # rows sort strictly below, runs of later rows strictly above.
    K = w + 2
    k_start = ys * K + xs
    k_end = ys * K + xe
    lo = np.searchsorted(k_end, (ys - 1) * K + xs, side="left")
    hi = np.searchsorted(k_start, (ys - 1) * K + xe, side="right")
    cnt = np.maximum(hi - lo, 0)
    total = int(cnt.sum())
    lab = np.arange(n, dtype=np.int64)
    if total:
        ea = np.repeat(lab, cnt)
        off = np.cumsum(cnt) - cnt
        eb = np.arange(total, dtype=np.int64) - np.repeat(off, cnt) + np.repeat(lo, cnt)
        while True:
            m = np.minimum(lab[ea], lab[eb])
            nxt = lab.copy()
            np.minimum.at(nxt, ea, m)
            np.minimum.at(nxt, eb, m)
            nxt = np.minimum(nxt, nxt[nxt])  # pointer jump
            if np.array_equal(nxt, lab):
                break
            lab = nxt
    return ys.astype(np.int64), xs.astype(np.int64), xe.astype(np.int64), lab


def connected_components(bitmap: np.ndarray) -> list[tuple[int, int, int, int]]:
    """8-connected components of a binary map -> bounding rects (x, y, w, h).

    Vectorized run labeling (``label_runs``); rects are returned in
    raster order of the component's topmost-leftmost run (deterministic,
    identical to the previous union-find implementation).
    """
    return [tuple(r) for r in _rects_from_runs(*label_runs(bitmap)).tolist()]


def _rects_from_runs(ys: np.ndarray, xs: np.ndarray, xe: np.ndarray, lab: np.ndarray) -> np.ndarray:
    """(k, 4) int64 bounding rects [x, y, w, h] of the labeled
    components, in ascending label (= raster) order."""
    if len(ys) == 0:
        return np.zeros((0, 4), dtype=np.int64)
    roots, inv = np.unique(lab, return_inverse=True)  # ascending = raster order
    k = len(roots)
    x0 = np.full(k, np.iinfo(np.int64).max)
    y0 = np.full(k, np.iinfo(np.int64).max)
    x1 = np.zeros(k, dtype=np.int64)
    y1 = np.zeros(k, dtype=np.int64)
    np.minimum.at(x0, inv, xs)
    np.minimum.at(y0, inv, ys)
    np.maximum.at(x1, inv, xe)
    np.maximum.at(y1, inv, ys + 1)
    return np.stack([x0, y0, x1 - x0, y1 - y0], axis=1)


def unclip_rect(x, y, w, h, unclip_ratio: float = UNCLIP_RATIO):
    """Analytic unclip of axis-aligned rects (reference
    postprocessor/base.py:38-81 for the straight path): grow by
    ``distance = area * ratio / perimeter`` on each side, then integer
    bounding rect (floor origin, ceil extent — cv2.boundingRect on the
    offset polygon's float points). Elementwise over int arrays (or
    ints); the float ops and their order are those of the scalar
    formula, so every rect is bit-identical to it."""
    x, y, w, h = (np.asarray(v, dtype=np.int64) for v in (x, y, w, h))
    length = 2.0 * (w + h)
    # a 0x0 rect has no perimeter and stays as it is (d = 0)
    d = np.divide((w * h) * unclip_ratio, length, out=np.zeros(length.shape), where=length != 0)
    x0 = np.floor(x - d).astype(np.int64)
    y0 = np.floor(y - d).astype(np.int64)
    x1 = np.ceil((x + w) + d).astype(np.int64)
    y1 = np.ceil((y + h) + d).astype(np.int64)
    return x0, y0, x1 - x0, y1 - y0


def _stack(maps: list[np.ndarray], fill, dtype) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Stack 2-D page maps for the group kernel.

    Returns ``(stack, row0, inside)``: ``stack`` is (R, W) ``dtype``
    with page p at rows ``row0[p]`` .. ``row0[p] + h_p - 1``, columns
    0 .. ``w_p - 1``; one separator row above, between and below the
    pages; W the widest page rounded up to whole bytes; separator rows
    and pad columns hold ``fill``. ``inside`` is the packed-bit mask of
    page pixels (R, W / 8)."""
    hs = [m.shape[0] for m in maps]
    ws = [m.shape[1] for m in maps]
    row0 = np.cumsum([1] + [h + 1 for h in hs[:-1]])
    width = -(-max(ws) // 8) * 8
    stack = np.full((int(row0[-1]) + hs[-1] + 1, width), fill, dtype=dtype)
    inside = np.zeros((stack.shape[0], width // 8), dtype=np.uint8)
    cols = np.arange(width)
    for m, r, h, w in zip(maps, row0, hs, ws):
        stack[r : r + h, :w] = m
        inside[r : r + h] = np.packbits(cols < w)
    return stack, row0, inside


def _group_rects(
    fg: np.ndarray, row0: np.ndarray, inside: np.ndarray, morph_open: bool
) -> tuple[np.ndarray, np.ndarray]:
    """D2 + D3 over a stacked foreground map (``_stack``): one packed
    opening and one labeling for the whole group. Returns the page index
    and page-local (x, y, w, h) rect of every component, pages in order
    and each page's components in raster order."""
    bits = np.packbits(fg, axis=1) & inside  # separators, pad: never foreground
    if morph_open:
        bits = _open_packed(bits, inside)
    rects = _rects_from_runs(*_label_runs_packed(bits, *fg.shape))
    page = np.searchsorted(row0, rects[:, 1], side="right") - 1
    rects[:, 1] -= row0[page]
    return page, rects


def _rect_bounds(rects: np.ndarray, heights: np.ndarray, widths: np.ndarray):
    """D4's inclusive clipped integer rect (core.py:46-52) of each
    component: rows y0..y1, cols x0..x1. The labeling's x, y, w, h are
    exact ints, so the reference's floor/ceil are identities."""
    x, y, w, h = rects.T
    x0 = np.minimum(np.maximum(x, 0), widths - 1)
    x1 = np.minimum(np.maximum(x + w, 0), widths - 1)
    y0 = np.minimum(np.maximum(y, 0), heights - 1)
    y1 = np.minimum(np.maximum(y + h, 0), heights - 1)
    return x0, y0, x1, y1


def _rect_sums(stack: np.ndarray, rows: np.ndarray, x0: np.ndarray, x1: np.ndarray, nr: np.ndarray) -> np.ndarray:
    """Exact int64 sums of integer ``stack`` over rects whose first
    stack row is ``rows``, spanning ``nr`` rows and cols ``x0`` .. ``x1``:
    one gather of every rect pixel (rect after rect, row-major) and one
    ``np.add.reduceat`` at the rect starts."""
    width = stack.shape[1]
    nc = x1 - x0 + 1
    # flat start of every rect row, then of every pixel (ragged aranges)
    seg = np.repeat(rows * width + x0 - (np.cumsum(nr) - nr) * width, nr)
    seg += np.arange(len(seg)) * width
    seg_len = np.repeat(nc, nr)
    idx = np.repeat(seg - (np.cumsum(seg_len) - seg_len), seg_len)
    idx += np.arange(len(idx))
    area = nr * nc
    return np.add.reduceat(stack.ravel()[idx], np.cumsum(area) - area, dtype=np.int64)


def _page_boxes(
    page: np.ndarray,
    rects: np.ndarray,
    scores: np.ndarray,
    heights: np.ndarray,
    widths: np.ndarray,
    dtypes: list,
    box_thresh: float,
    unclip_ratio: float,
) -> list[np.ndarray]:
    """D4 threshold, D5 unclip and D6 relative coords + clip for a
    group's size-filtered components, split back into one (N, 5)
    [xmin, ymin, xmax, ymax, score] array per page."""
    ok = scores >= box_thresh
    page, rects, scores = page[ok], rects[ok], scores[ok]
    heights, widths = heights[ok], widths[ok]
    ex, ey, ew, eh = unclip_rect(*rects.T, unclip_ratio)
    boxes = np.stack(
        [ex / widths, ey / heights, (ex + ew) / widths, (ey + eh) / heights, scores], axis=1
    )
    cuts = np.searchsorted(page, np.arange(1, len(dtypes)))
    return [np.clip(b.astype(dt), 0, 1) for b, dt in zip(np.split(boxes, cuts), dtypes)]


def _size_filter(page: np.ndarray, rects: np.ndarray):
    # Small-extent filter (postprocessor/base.py:106): the reference
    # drops contours whose coordinate span (max - min) < 2 in either
    # axis; pixel-count extent = span + 1, so drop w < 3 or h < 3.
    keep = (rects[:, 2] >= 3) & (rects[:, 3] >= 3)
    return page[keep], rects[keep]


def bitmap_to_boxes(
    pred: np.ndarray,
    bitmap: np.ndarray,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
) -> np.ndarray:
    """Binary map -> (N, 5) array of [xmin, ymin, xmax, ymax, score],
    relative coords clipped to [0,1] (reference postprocessor/base.py:83-139,
    straight path)."""
    return _prob_boxes([pred], [bitmap], box_thresh, unclip_ratio, False)[0]


def remove_padding(
    boxes: np.ndarray,
    page_h: int,
    page_w: int,
    preserve_aspect_ratio: bool = True,
    symmetric_pad: bool = True,
) -> np.ndarray:
    """Invert aspect-ratio padding on relative straight boxes (N, 5).

    Exact re-derivation of onnxtr/models/detection/_utils/base.py:12-62
    (straight-page branches); the score column is untouched.
    """
    if not preserve_aspect_ratio or boxes.shape[0] == 0:
        return boxes
    out = boxes.copy()
    if page_h > page_w:
        if symmetric_pad:
            out[:, [0, 2]] = (out[:, [0, 2]] - 0.5) * page_h / page_w + 0.5
        else:
            out[:, [0, 2]] *= page_h / page_w
    elif page_w > page_h:
        if symmetric_pad:
            out[:, [1, 3]] = (out[:, [1, 3]] - 0.5) * page_w / page_h + 0.5
        else:
            out[:, [1, 3]] *= page_w / page_h
    out[:, :4] = np.clip(out[:, :4], 0, 1)
    return out


def _prob_boxes(
    preds: list[np.ndarray],
    binmaps: list[np.ndarray],
    box_thresh: float,
    unclip_ratio: float,
    morph_open: bool,
) -> list[np.ndarray]:
    """D2-D6 for a group of binary maps scored on their float maps
    ``preds`` (the prob-map path and ``bitmap_to_boxes``)."""
    stack, row0, inside = _stack(binmaps, False, np.bool_)
    page, rects = _size_filter(*_group_rects(stack, row0, inside, morph_open))
    x0, y0, x1, y1 = _rect_bounds(
        rects, np.array([p.shape[0] for p in preds])[page], np.array([p.shape[1] for p in preds])[page]
    )
    # float32 pairwise means: one .mean() per box (module docstring)
    scores = np.array(
        [
            float(preds[p][a : b + 1, c : d + 1].mean())
            for p, a, b, c, d in zip(page.tolist(), y0.tolist(), y1.tolist(), x0.tolist(), x1.tolist())
        ],
        dtype=np.float64,
    )
    return _page_boxes(
        page,
        rects,
        scores,
        np.array([b.shape[0] for b in binmaps])[page],
        np.array([b.shape[1] for b in binmaps])[page],
        [p.dtype for p in preds],
        box_thresh,
        unclip_ratio,
    )


def postprocess_prob_maps(
    prob_maps: list[np.ndarray],
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> list[np.ndarray]:
    """Full D1-D6 chain for a group of (H, W) probability maps: one
    (N, 5) box array per map, in order."""
    return _prob_boxes(
        prob_maps, [p >= bin_thresh for p in prob_maps], box_thresh, unclip_ratio, morph_open
    )


def postprocess_prob_map(
    prob_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    """Full D1-D6 chain for one page's (H, W) probability map."""
    return postprocess_prob_maps([prob_map], bin_thresh, box_thresh, unclip_ratio, morph_open)[0]


def postprocess_pixel_maps(
    px_maps: list[np.ndarray],
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> list[np.ndarray]:
    """D1-D6 folded through an affine prob model, directly on a group
    of uint8 maps (prob = (255 - px)/255, engine.py DetectionEngine):
    one (N, 5) float32 box array per map, in order.

    The stub model is linear in pixel value, so D1's threshold and D4's
    rect-mean commute through it: ``prob >= t  <=>  px <= 255 - 255t``
    and ``mean(prob) = (255 - mean(px))/255``. This skips materializing
    the HxW float32 map entirely — whole-stage-codegen-style fusion
    across the model boundary; a real CNN can't be folded, in which case
    the caller materializes prob and uses ``postprocess_prob_maps``.
    Box geometry is bit-identical; only the objectness score can differ
    in the last float ulps (float64 rect mean vs float32 map mean).
    """
    pix_thresh = float(np.floor(255.0 - 255.0 * bin_thresh))
    stack, row0, inside = _stack(px_maps, 255, np.uint8)
    page, rects = _size_filter(*_group_rects(stack <= pix_thresh, row0, inside, morph_open))
    heights = np.array([m.shape[0] for m in px_maps])[page]
    widths = np.array([m.shape[1] for m in px_maps])[page]
    x0, y0, x1, y1 = _rect_bounds(rects, heights, widths)
    nr = y1 - y0 + 1
    # exact integer rect sums: float64(sum) / count is the value the
    # uint8 .mean() returns (its float64 accumulation is exact too)
    means = _rect_sums(stack, row0[page] + y0, x0, x1, nr) / (nr * (x1 - x0 + 1))
    scores = (255.0 - means) / 255.0
    return _page_boxes(
        page, rects, scores, heights, widths, [np.float32] * len(px_maps), box_thresh, unclip_ratio
    )


def postprocess_pixel_map(
    px_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    """``postprocess_pixel_maps`` for one page's (H, W) uint8 map."""
    return postprocess_pixel_maps([px_map], bin_thresh, box_thresh, unclip_ratio, morph_open)[0]
