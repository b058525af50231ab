"""Rotated detection post-processing: bitmap -> (N, 5, 2) polygons.

Re-derives the reference's ``assume_straight_pages=False`` branch of
GeneralDetectionPostProcessor (onnxtr/models/detection/postprocessor/
base.py:38-139) without cv2/pyclipper:

- D3 components: same union-find labeling as detect_post, but keeping
  each component's row runs so the convex hull is available (the hull
  of a pixel set equals the hull of its per-row run endpoints).
- min-area rect: rotating calipers over the monotone-chain hull —
  the cv2.minAreaRect analog (postprocessor/base.py:52).
- D4 rotated box score: mean of the NONZERO probabilities inside the
  component (core.py:54-58 masks with fillPoly(contour) and divides by
  ``count_nonzero(product)`` — zero-prob pixels inside the mask do not
  count; for a solid component, mask(contour) == the component's own
  pixels, which we already hold as runs).
- D5 rotated unclip: ``distance = (w+1)*(h+1)*ratio / (2*(w+h)+2)``
  (the reference's +1 "cv2 approx" correction, base.py:54-56), round
  joins via pyclipper then minAreaRect — for a rectangle input that
  composition is exactly the same-angle rectangle grown by ``distance``
  on each side (computed analytically), then ``order_points``.
- ``order_points``: TL,TR,BR,BL ordering (utils/geometry.py:58-105:
  centroid-angle sort, roll to min coordinate-sum, clockwise fix).
- D6: relative coords, score appended as a 5th row ``[0, score]``,
  clip to [0,1] (base.py:132-137); empty -> (0, 5, 2).
- P8 rotated padding removal (models/detection/_utils/base.py:12-62):
  note the faithful quirk — the transform runs BEFORE detach_scores
  (predictor/base.py:56-62), so the score row's y coordinate is
  remapped (and clipped) like any other point when width > height.
"""

from __future__ import annotations

import numpy as np

from onnxtr_spark.kernels.detect_post import BIN_THRESH, BOX_THRESH, UNCLIP_RATIO, binary_open_3x3


def component_runs(bitmap: np.ndarray) -> list[list[tuple[int, int, int]]]:
    """8-connected components as per-component row runs [(y, xs, xe)].

    Vectorized run labeling (``detect_post.label_runs`` — searchsorted
    overlap edges + min-label pointer jumping); components are returned
    in raster order of their topmost-leftmost run with runs in raster
    order within each component (deterministic, identical to the
    previous per-run union-find loop).
    """
    from onnxtr_spark.kernels.detect_post import label_runs

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
    orientation — visually clockwise with y down).

    Pure-Python tuples: the per-component point sets are tiny (2 per
    blob row, ~20-60 points), where per-element numpy calls cost ~10x
    more than float tuple arithmetic (this runs once per connected
    component per page — the rotated path's hottest kernel). Accepts a
    ready list of float tuples directly to skip the ndarray round-trip."""
    if isinstance(points, np.ndarray):
        points = map(tuple, points.astype(np.float64).tolist())
    pts = sorted(set(points))
    if len(pts) <= 2:
        return pts
    return _half(pts)[:-1] + _half(pts[::-1])[:-1]


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Monotone-chain convex hull; returns hull vertices in CCW order."""
    return np.asarray(_hull_points(points), dtype=np.float64)


def min_area_rect(points: np.ndarray) -> tuple[float, float, float, float, float]:
    """Minimum-area oriented bounding rectangle (cv2.minAreaRect analog).

    Returns (cx, cy, w, h, angle_rad) with the rect's u axis (width) at
    ``angle_rad``. Rotating calipers: the optimal rect is aligned with
    some hull edge. Plain-float loops over the tuple hull (same hot-path
    rationale as ``_hull_points`` — E·H ≈ 200 fused multiply-compares
    beat ~15 tiny-array numpy ops per component by ~5x; the projection
    arithmetic x·ux + y·uy is the identical fp expression the previous
    matmul form evaluated, so results are bit-equal).
    """
    return _rect_from_hull(_hull_points(points))


def _rect_from_hull(hull: list[tuple[float, float]]) -> tuple[float, float, float, float, float]:
    """Calipers over a ready monotone-chain hull (see min_area_rect)."""
    import math

    if len(hull) == 1:
        return hull[0][0], hull[0][1], 0.0, 0.0, 0.0
    if len(hull) == 2:
        (x0, y0), (x1, y1) = hull
        dx, dy = x1 - x0, y1 - y0
        return (x0 + x1) / 2, (y0 + y1) / 2, math.hypot(dx, dy), 0.0, math.atan2(dy, dx)
    n = len(hull)
    if n <= 24:
        # Small hulls (digitized word blobs hull to ~9 vertices): the
        # scalar O(E·H) loop beats the numpy broadcast below — ~15
        # tiny-array numpy calls cost more than ~100 float ops
        # (measured unprofiled: 12 µs vs 35 µs per component; cProfile
        # inverts this by taxing Python bytecode more than ufuncs).
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
    # Vectorized calipers for LARGE hulls: ONE H×E broadcast per
    # projection axis instead of the O(E·H) Python float loop. The
    # projection is evaluated as (hx*ux) + (hy*uy) — two elementwise
    # multiplies and one add, the IDENTICAL IEEE op sequence the scalar
    # loop uses (no BLAS matmul, whose FMA contraction could differ in
    # the last ulp); edge lengths keep math.hypot per edge so unit
    # vectors are bit-equal too.
    hx = np.array([p[0] for p in hull])
    hy = np.array([p[1] for p in hull])
    ex = np.empty(n)
    ey = np.empty(n)
    ex[: n - 1] = hx[1:] - hx[: n - 1]
    ex[n - 1] = hx[0] - hx[n - 1]
    ey[: n - 1] = hy[1:] - hy[: n - 1]
    ey[n - 1] = hy[0] - hy[n - 1]
    length = np.array([math.hypot(float(a), float(b)) for a, b in zip(ex, ey)])
    ux = ex / length
    uy = ey / length
    pu = hx[:, None] * ux[None, :] + hy[:, None] * uy[None, :]
    # v = (-uy, ux): pv = hx*(-uy) + hy*ux
    pv = hx[:, None] * (-uy)[None, :] + hy[:, None] * ux[None, :]
    pumin = pu.min(axis=0)
    pumax = pu.max(axis=0)
    pvmin = pv.min(axis=0)
    pvmax = pv.max(axis=0)
    areas = (pumax - pumin) * (pvmax - pvmin)
    b = int(np.argmin(areas))  # first minimum — the loop's strict < tie-break
    bux, buy = float(ux[b]), float(uy[b])
    bvx, bvy = -buy, bux
    cu = (float(pumax[b]) + float(pumin[b])) / 2
    cv_ = (float(pvmax[b]) + float(pvmin[b])) / 2
    return (
        cu * bux + cv_ * bvx,
        cu * buy + cv_ * bvy,
        float(pumax[b]) - float(pumin[b]),
        float(pvmax[b]) - float(pvmin[b]),
        math.atan2(buy, bux),
    )


def _hulls_batch(
    px: np.ndarray, py: np.ndarray, comp: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Monotone-chain hulls for MANY components at once.

    Input: integer-valued point coordinates (float64) with their
    component id (non-decreasing). Output: flat (hx, hy, counts) hull
    vertex arrays, each component's vertices in the exact order
    ``_hull_points`` produces (lower chain then upper chain, both
    without their closing vertex).

    Equality argument: points are deduped and sorted by (x, y) per
    component exactly like ``sorted(set(pts))`` (via a composite
    integer key — coords are exact pixel integers < 2^13); each chain
    is the fixpoint of simultaneously deleting every interior point
    whose (prev, self, next) cross product is <= 0 — cross products of
    integer coords are EXACT in float64, hull vertices are never
    deletable (they turn strictly left against any bracketing pair),
    and a surviving non-vertex would make the surviving chain a
    strictly convex chain containing a non-extreme point (impossible),
    so the fixpoint is exactly the strict hull vertex set in sorted
    order — the stack algorithm's output."""
    # sort + dedup per component via one composite integer key
    key = (comp.astype(np.int64) << 26) | (px.astype(np.int64) << 13) | py.astype(np.int64)
    key = np.unique(key)
    cs = key >> 26
    xs = ((key >> 13) & 0x1FFF).astype(np.float64)
    ys = (key & 0x1FFF).astype(np.float64)

    def chain(xa: np.ndarray, ya: np.ndarray, ca: np.ndarray) -> np.ndarray:
        """Alive mask of the convex chain over (xa, ya) in given order."""
        n = len(xa)
        alive = np.ones(n, dtype=bool)
        while True:
            pos = np.flatnonzero(alive)
            if len(pos) < 3:
                break
            pc = ca[pos]
            interior = np.zeros(len(pos), dtype=bool)
            interior[1:-1] = (pc[1:-1] == pc[:-2]) & (pc[1:-1] == pc[2:])
            ii = np.flatnonzero(interior)
            if len(ii) == 0:
                break
            o = pos[ii - 1]
            q = pos[ii]
            p = pos[ii + 1]
            cross = (xa[q] - xa[o]) * (ya[p] - ya[o]) - (ya[q] - ya[o]) * (xa[p] - xa[o])
            bad = cross <= 0
            if not bad.any():
                break
            alive[q[bad]] = False
        return alive

    lower = chain(xs, ys, cs)
    upper_r = chain(xs[::-1], ys[::-1], cs[::-1])[::-1]
    # per-comp boundaries in the sorted point array
    cb = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
    ce = np.r_[cb[1:], len(cs)]
    # single-point / two-point components: _hull_points returns the
    # deduped sorted points directly
    sizes = ce - cb
    # each chain drops its LAST point (the other chain's first):
    # lower[:-1] keeps lower-chain vertices except the max point;
    # upper[:-1] keeps upper-chain vertices except the min point
    last = ce - 1
    first = cb
    lower_keep = lower.copy()
    lower_keep[last] = False  # lower[:-1]
    upper_keep = upper_r.copy()
    upper_keep[first] = False  # upper chain ends at the min point
    small = sizes <= 2
    if small.any():
        for c in np.flatnonzero(small):
            lower_keep[cb[c] : ce[c]] = True
            upper_keep[cb[c] : ce[c]] = False
    # assemble: per comp, lower vertices in ascending order, then upper
    # vertices in DESCENDING (x, y) order (the reversed-pass chain)
    li = np.flatnonzero(lower_keep)
    ui = np.flatnonzero(upper_keep)
    # order upper vertices descending within each comp
    order_u = np.lexsort((-ui, cs[ui]))
    ui = ui[order_u]
    idx = np.concatenate([li, ui])
    chain_tag = np.concatenate([np.zeros(len(li), np.int64), np.ones(len(ui), np.int64)])
    pos_in = np.concatenate([np.arange(len(li)), np.arange(len(ui))])
    order = np.lexsort((pos_in, chain_tag, cs[idx]))
    idx = idx[order]
    hx = xs[idx]
    hy = ys[idx]
    hc = cs[idx]
    hcb = np.flatnonzero(np.r_[True, hc[1:] != hc[:-1]])
    counts = np.r_[hcb[1:], len(hc)] - hcb
    return hx, hy, counts


def _rects_for_components(
    rpx0: np.ndarray,
    rpx1: np.ndarray,
    rpy: np.ndarray,
    crb: np.ndarray,
    cre: np.ndarray,
    sel: np.ndarray,
) -> list[tuple[float, float, float, float, float]]:
    """(cx, cy, w, h, angle) per selected component, computed through
    the batched hull + calipers — bit-identical to looping
    ``min_area_rect`` over each component's row-extreme points."""
    import math

    nr = cre[sel] - crb[sel]
    tot = int(nr.sum())
    off = np.cumsum(nr) - nr
    rows = np.repeat(crb[sel] - off, nr) + np.arange(tot, dtype=np.int64)
    cid = np.repeat(np.arange(len(sel), dtype=np.int64), nr)
    px = np.concatenate([rpx0[rows], rpx1[rows]])
    py = np.concatenate([rpy[rows], rpy[rows]])
    if tot and (px.max() >= 8192.0 or py.max() >= 8192.0):
        # coords exceed the 13-bit composite-key domain (pages beyond
        # 8k px): per-component scalar fallback, same results
        out = []
        for i in range(len(sel)):
            a, b = off[i], off[i] + nr[i]
            pts = list(zip(px[a:b].tolist(), py[a:b].tolist()))
            pts += zip(px[tot + a : tot + b].tolist(), py[tot + a : tot + b].tolist())
            out.append(min_area_rect(pts))
        return out
    comp2 = np.concatenate([cid, cid])
    hx, hy, counts = _hulls_batch(px, py, comp2)
    big = counts >= 3
    rects: list[tuple[float, float, float, float, float]] = [None] * len(sel)  # type: ignore[list-item]
    if big.any():
        sub = np.flatnonzero(big)
        cb = np.cumsum(counts) - counts
        keep_pts = np.repeat(big, counts)
        bcx, bcy, bw, bh, bux, buy = _rects_from_hull_batch(
            hx[keep_pts], hy[keep_pts], counts[sub]
        )
        for k, c in enumerate(sub):
            rects[c] = (
                float(bcx[k]), float(bcy[k]), float(bw[k]), float(bh[k]),
                math.atan2(float(buy[k]), float(bux[k])),
            )
    if not big.all():
        cb = np.cumsum(counts) - counts
        for c in np.flatnonzero(~big):
            hull = [
                (float(hx[i]), float(hy[i])) for i in range(cb[c], cb[c] + counts[c])
            ]
            rects[c] = _rect_from_hull(hull)
    return rects


def _rects_from_hull_batch(
    hxs: np.ndarray, hys: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batched rotating calipers over many hulls (each >= 3 vertices).

    The scalar ``_rect_from_hull`` loop's float expressions evaluated
    elementwise over a (ncomp, maxE, maxH) pad (mul, mul, add — no
    FMA/matmul, so projections are bit-equal); edge lengths via
    ``sqrt(ex*ex + ey*ey)``, bit-equal to the scalar ``math.hypot`` for
    the integer-valued edge vectors pixel hulls produce (squares and
    their sum are exact below 2^52; verified over the ±4096 domain);
    first-occurrence ``argmin`` matches the strict-< best update; the
    clamp padding duplicates real points/edges, which changes neither
    extremes nor the first minimum. Returns (cx, cy, w, h, ux, uy); the
    caller derives ``angle = math.atan2(uy, ux)`` per component —
    numpy's arctan2 is NOT libm atan2 (measured ~31% last-ulp
    mismatch), so that step stays scalar.
    """
    counts = np.asarray(counts, dtype=np.int64)
    nc = len(counts)
    total = int(counts.sum())
    off = np.cumsum(counts) - counts
    hxs = np.asarray(hxs, dtype=np.float64)
    hys = np.asarray(hys, dtype=np.float64)
    nxt = np.arange(total, dtype=np.int64) + 1
    nxt[off + counts - 1] = off
    ex = hxs[nxt] - hxs
    ey = hys[nxt] - hys
    ln = np.sqrt(ex * ex + ey * ey)
    ux = ex / ln
    uy = ey / ln
    max_h = int(counts.max())
    pad = off[:, None] + np.minimum(np.arange(max_h)[None, :], counts[:, None] - 1)
    px = hxs[pad]
    py = hys[pad]
    eux = ux[pad]
    euy = uy[pad]
    pu = px[:, None, :] * eux[:, :, None] + py[:, None, :] * euy[:, :, None]
    pv = px[:, None, :] * (-euy)[:, :, None] + py[:, None, :] * eux[:, :, None]
    pumin = pu.min(axis=2)
    pumax = pu.max(axis=2)
    pvmin = pv.min(axis=2)
    pvmax = pv.max(axis=2)
    areas = (pumax - pumin) * (pvmax - pvmin)
    b = np.argmin(areas, axis=1)
    r = np.arange(nc)
    bux = eux[r, b]
    buy = euy[r, b]
    pun = pumin[r, b]
    pux = pumax[r, b]
    pvn = pvmin[r, b]
    pvx = pvmax[r, b]
    cu = (pux + pun) / 2
    cv_ = (pvx + pvn) / 2
    return (
        cu * bux + cv_ * (-buy),
        cu * buy + cv_ * bux,
        pux - pun,
        pvx - pvn,
        bux,
        buy,
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
    points TL,TR,BR,BL. Returns (4, 2) absolute corner coords.

    Plain-float corner math + ``order_points`` semantics inlined on the
    4 tuples (this runs once per component per page — same hot-path
    rationale as convex_hull; semantics pinned equal to
    order_points(box_points(...)) by test).
    """
    return np.asarray(_unclip_pts(cx, cy, w, h, angle_rad, unclip_ratio), dtype=np.float64)


def _unclip_pts(
    cx: float, cy: float, w: float, h: float, angle_rad: float, unclip_ratio: float = UNCLIP_RATIO
) -> list[tuple[float, float]]:
    """``unclip_rotated`` body returning the 4 ordered corner tuples
    (no per-component ndarray materialization — the page-level driver
    writes them straight into its preallocated output)."""
    import math

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


def _gather_runs(arr: np.ndarray, runs: list[tuple[int, int, int]]) -> np.ndarray:
    """One flat array of a component's pixel values (single gather)."""
    return np.concatenate([arr[y, xs:xe] for y, xs, xe in runs])


def _runs_score_px(px_map: np.ndarray, runs: list[tuple[int, int, int]]) -> float:
    """Rotated D4 on the stub-folded pixel map: mean of nonzero
    probabilities over the component's own pixels (see module doc)."""
    probs = (255.0 - _gather_runs(px_map, runs).astype(np.float64)) / 255.0
    nz = probs > 0
    count = int(nz.sum())
    return float(probs[nz].sum()) / count if count else 0.0


def _runs_score_prob(pred: np.ndarray, runs: list[tuple[int, int, int]]) -> float:
    probs = _gather_runs(pred, runs).astype(np.float64)
    nz = probs > 0
    count = int(nz.sum())
    return float(probs[nz].sum()) / count if count else 0.0


def _polys_from_labeled_runs(
    src: np.ndarray,
    pixel_mode: bool,
    shape: tuple[int, int],
    ys: np.ndarray,
    xs: np.ndarray,
    xe: np.ndarray,
    lab: np.ndarray,
    box_thresh: float,
    unclip_ratio: float,
) -> np.ndarray:
    """Array-native page-level driver of the rotated D3-D6 chain.

    Replaces the per-component tuple pipeline (component_runs →
    per-component numpy gathers → min_area_rect → unclip) with ONE
    vectorized pass per page for everything except the per-component
    hull/caliper/unclip scalar math, which is bit-identical to the old
    path by construction:

    - extents/row-extremes are integer reduceat's (exact);
    - the score value gather concatenates each component's run pixels in
      the same raster order ``_gather_runs`` produced, and the score is
      the identical ``probs[probs > 0].sum()/count`` expression over the
      same contiguous float64 array (np.sum's pairwise tree depends only
      on length/layout — equal);
    - hull input is reduced to each row's (min-x, max-x) endpoints:
      interior run endpoints of a row lie on the segment between the row
      extremes, so they are never STRICT hull vertices, and
      ``_half``'s strict-turn popping already drops collinear boundary
      points — the hull vertex list (and hence the rect) is unchanged;
    - corners are written straight into the preallocated (N, 5, 2)
      float64 page array; the final ``clip(astype(float32))`` matches
      the old asarray path value-for-value.
    """
    height, width = shape
    n = len(ys)
    if n == 0:
        return np.zeros((0, 5, 2), dtype=np.float32)
    order = np.argsort(lab, kind="stable")
    ys = ys[order]
    xs = xs[order]
    xe = xe[order]
    lab = lab[order]
    comp_b = np.flatnonzero(np.r_[True, lab[1:] != lab[:-1]])
    comp_e = np.r_[comp_b[1:], n]
    # contour span < 2 filter, i.e. pixel extent < 3 (base.py:106);
    # runs are raster-ordered within a component, so ymin/ymax are the
    # first/last run's rows
    x0 = np.minimum.reduceat(xs, comp_b)
    x1 = np.maximum.reduceat(xe, comp_b)
    keep = ((x1 - x0) >= 3) & ((ys[comp_e - 1] - ys[comp_b] + 1) >= 3)
    kept = np.flatnonzero(keep)
    if len(kept) == 0:
        return np.zeros((0, 5, 2), dtype=np.float32)
    # ragged gather of the score source over every run (raster order —
    # the same concatenation order _gather_runs produced)
    L = xe - xs
    cum = np.cumsum(L)
    off0 = cum - L
    tot = int(cum[-1])
    flat_idx = np.repeat(ys * width + xs - off0, L) + np.arange(tot, dtype=np.int64)
    flat = np.ascontiguousarray(src).ravel()[flat_idx]
    comp_pa = off0[comp_b]
    comp_pb = cum[comp_e - 1]
    # per-(component, row) x extremes: run rows are raster-sorted, so a
    # row group's first run has the min start and its last run the max
    # end (runs in a row are disjoint and x-sorted)
    rb = np.flatnonzero(np.r_[True, (lab[1:] != lab[:-1]) | (ys[1:] != ys[:-1])])
    re_ = np.r_[rb[1:], n]
    rpx0 = xs[rb].astype(np.float64)
    rpx1 = (xe[re_ - 1] - 1).astype(np.float64)
    rpy = ys[rb].astype(np.float64)
    crb = np.searchsorted(rb, comp_b)
    cre = np.r_[crb[1:], len(rb)]
    # One page-level check replaces the per-component nz mask: component
    # pixels come from the OPENED bitmap (opening is anti-extensive, so
    # every pixel is below the binarize threshold) — when the gathered
    # page holds no zero-probability value at all, probs[nz] is a full
    # contiguous copy and probs[nz].sum() == probs.sum() (same pairwise
    # tree over the same values), so the masked path is skipped whole.
    all_nz = bool(flat.max() < 255) if pixel_mode else bool(flat.min() > 0)
    scores: list[float] = []
    passing: list[int] = []
    for c in kept:
        fl = flat[comp_pa[c] : comp_pb[c]]
        if pixel_mode:
            probs = (255.0 - fl.astype(np.float64)) / 255.0
        else:
            probs = fl.astype(np.float64)
        if all_nz:
            count = len(probs)
            score = float(probs.sum()) / count if count else 0.0
        else:
            nz = probs > 0
            count = int(nz.sum())
            score = float(probs[nz].sum()) / count if count else 0.0
        if score < box_thresh:
            continue
        scores.append(score)
        passing.append(c)
    m = len(scores)
    if m == 0:
        return np.zeros((0, 5, 2), dtype=np.float32)
    rects = _rects_for_components(rpx0, rpx1, rpy, crb, cre, np.asarray(passing))
    polys = np.empty((m, 5, 2), dtype=np.float64)
    for i in range(m):
        quad = _unclip_pts(*rects[i], unclip_ratio)
        for j in range(4):
            qx, qy = quad[j]
            polys[i, j, 0] = qx / width
            polys[i, j, 1] = qy / height
        polys[i, 4, 0] = 0.0
        polys[i, 4, 1] = scores[i]
    return np.clip(polys.astype(np.float32), 0, 1)


def bitmap_to_polys(
    pred: np.ndarray,
    bitmap: np.ndarray,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
) -> np.ndarray:
    """Binary map -> (N, 5, 2) rotated polygons [TL,TR,BR,BL,(0,score)]
    in relative coords clipped to [0,1] (postprocessor/base.py:83-139,
    rotated path) — the real-prob-map variant."""
    from onnxtr_spark.kernels.detect_post import label_runs

    ys, xs, xe, lab = label_runs(bitmap)
    return _polys_from_labeled_runs(
        pred, False, bitmap.shape[:2], ys, xs, xe, lab, box_thresh, unclip_ratio
    )


def postprocess_prob_map_rotated(
    prob_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    """Full rotated D1-D6 chain for one page's (H, W) probability map —
    the real-CNN path (a non-affine model can't be folded; see
    detect_post.postprocess_prob_map). Geometry is bit-identical to the
    folded path; scores differ only in float32-map ulps."""
    return _postprocess_binmap_rotated(
        prob_map, False, prob_map >= bin_thresh, box_thresh, unclip_ratio, morph_open
    )


def postprocess_pixel_map_rotated(
    px_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    """Full rotated D1-D6 chain folded through the affine stub model,
    directly on the uint8 map (see detect_post.postprocess_pixel_maps for
    the folding argument — identical here, geometry is bit-identical)."""
    pix_thresh = float(np.floor(255.0 - 255.0 * bin_thresh))
    return _postprocess_binmap_rotated(
        px_map, True, px_map <= pix_thresh, box_thresh, unclip_ratio, morph_open
    )


def _postprocess_binmap_rotated(
    src: np.ndarray,
    pixel_mode: bool,
    binmap: np.ndarray,
    box_thresh: float,
    unclip_ratio: float,
    morph_open: bool,
) -> np.ndarray:
    from onnxtr_spark.kernels.detect_post import _label_runs_packed, _open_3x3_packed, label_runs

    h, w = binmap.shape[:2]
    if morph_open:
        # packed-bit opening feeds run labeling directly — no
        # unpack/repack roundtrip
        ys, xs, xe, lab = _label_runs_packed(_open_3x3_packed(binmap), h, w)
    else:
        ys, xs, xe, lab = label_runs(binmap)
    return _polys_from_labeled_runs(
        src, pixel_mode, (h, w), ys, xs, xe, lab, box_thresh, unclip_ratio
    )


def remove_padding_rotated(
    polys: np.ndarray,
    page_h: int,
    page_w: int,
    preserve_aspect_ratio: bool = True,
    symmetric_pad: bool = True,
) -> np.ndarray:
    """P8 rotated branches on (N, 5, 2) polys (incl. score row — see the
    module-doc quirk note: the reference remaps the score row too)."""
    if not preserve_aspect_ratio or polys.shape[0] == 0:
        return polys
    out = polys.copy()
    if page_h > page_w:
        if symmetric_pad:
            out[:, :, 0] = (out[:, :, 0] - 0.5) * page_h / page_w + 0.5
        else:
            out[:, :, 0] *= page_h / page_w
    elif page_w > page_h:
        if symmetric_pad:
            out[:, :, 1] = (out[:, :, 1] - 0.5) * page_w / page_h + 0.5
        else:
            out[:, :, 1] *= page_w / page_h
    return np.clip(out, 0, 1)


def polys_to_straight(polys: np.ndarray) -> np.ndarray:
    """B7 straight-box export: rotated (N, 4, 2) -> enclosing (N, 4)
    [xmin, ymin, xmax, ymax] (models/builder.py:322-326)."""
    if polys.shape[0] == 0:
        return np.zeros((0, 4), dtype=polys.dtype)
    return np.concatenate((polys.min(1), polys.max(1)), -1)
