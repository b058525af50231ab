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

D1-D6 run once per GROUP of pages (``postprocess_pixel_maps_rotated`` /
``postprocess_prob_maps_rotated``; the one-page calls are groups of
one). Each page is opened, labeled and scored on its own (D2-D4), and
only the runs of its components that pass both filters are kept — so a
page's map is dropped once the next one is made (while the next map is
made, the previous one is still the loop's current item). The min-area
rects, D5 and D6 then run once over the group's concatenated runs:
hulls, calipers, unclip and ``order_points`` are array expressions over
every component of every page, each evaluating the scalar chain's float
ops in the scalar chain's order (``tests/rotated_post_oracle.py`` keeps
that chain; ``tests/test_rotated_post_batched.py`` asserts equal bits).
Two steps stay per value: libm's trig (NumPy's ``arctan2``, ``cos`` and
``sin`` are not libm's in the last ulp), and the D4 sum, one ``np.sum``
per component (``np.add.reduceat`` associates the sum differently).
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
    label_runs,
)


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

    Input: integer-valued point coordinates with their component id
    (non-decreasing). Output: flat (hx, hy, counts) hull vertex arrays,
    each component's vertices in the exact order ``_hull_points``
    produces (lower chain then upper chain, both without their closing
    vertex).

    Equality argument: points are deduped and sorted by (x, y) per
    component exactly like ``sorted(set(pts))`` (via one composite int64
    key ``comp << 2s | x << s | y``, ``s`` the bit length of the largest
    coordinate, or a lexsort when that key would not fit in 63 bits —
    so no page size is refused); each chain is the fixpoint of
    simultaneously deleting every interior point whose (prev, self,
    next) cross product is <= 0 — cross products of integer coords are
    EXACT in float64, hull vertices are never deletable (they turn strictly left
    against any bracketing pair), and a surviving non-vertex would make
    the surviving chain a strictly convex chain containing a
    non-extreme point (impossible), so the fixpoint is exactly the
    strict hull vertex set in sorted order — the stack algorithm's
    output."""
    px, py, comp = (a.astype(np.int64) for a in (px, py, comp))
    s = int(max(px.max(), py.max())).bit_length()
    if int(comp.max()).bit_length() + 2 * s <= 63:
        key = np.unique((comp << 2 * s) | (px << s) | py)
        cs, xs, ys = key >> 2 * s, (key >> s) & ((1 << s) - 1), key & ((1 << s) - 1)
    else:
        o = np.lexsort((py, px, comp))
        cs, xs, ys = comp[o], px[o], py[o]
        new = np.r_[True, (cs[1:] != cs[:-1]) | (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])]
        cs, xs, ys = cs[new], xs[new], ys[new]
    xs, ys = xs.astype(np.float64), ys.astype(np.float64)

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
    ys: np.ndarray, xs: np.ndarray, xe: np.ndarray, comp_b: np.ndarray, sel: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(cx, cy, w, h, angle) arrays, one entry per selected component,
    through the batched hull + calipers — bit-identical to looping
    ``min_area_rect`` over each component's run endpoints.

    Runs are grouped by component (``_by_component``; ``comp_b`` is each
    component's first run). The hull input is each row's (min-x, max-x)
    endpoints: interior run endpoints of a row lie on the segment
    between the row extremes, so they are never STRICT hull vertices,
    and ``_half``'s strict-turn popping already drops collinear boundary
    points — the hull vertex list (and hence the rect) is unchanged."""
    if len(sel) == 0:
        return tuple(np.zeros(0) for _ in range(5))
    nr = np.r_[comp_b[1:], len(ys)][sel] - comp_b[sel]
    run = np.repeat(comp_b[sel] - (np.cumsum(nr) - nr), nr) + np.arange(int(nr.sum()))
    cid, y = np.repeat(np.arange(len(sel)), nr), ys[run]
    # per-(component, row) x extremes: a row group's first run has the
    # min start and its last run the max end (runs in a row are
    # disjoint and x-sorted)
    rb = np.flatnonzero(np.r_[True, (cid[1:] != cid[:-1]) | (y[1:] != y[:-1])])
    re_ = np.r_[rb[1:], len(run)] - 1
    hx, hy, counts = _hulls_batch(
        np.concatenate([xs[run[rb]], xe[run[re_]] - 1]), np.r_[y[rb], y[rb]], np.r_[cid[rb], cid[rb]]
    )
    rects = np.empty((5, len(sel)))
    big = counts >= 3
    if big.any():
        keep_pts = np.repeat(big, counts)
        cx, cy, w, h, ux, uy = _rects_from_hull_batch(hx[keep_pts], hy[keep_pts], counts[big])
        rects[:4, big] = cx, cy, w, h
        rects[4, big] = _libm(math.atan2, uy, ux)
    ends = np.cumsum(counts)
    for c in np.flatnonzero(~big):  # 1-2 vertex hulls: collinear components
        a, b = ends[c] - counts[c], ends[c]
        rects[:, c] = _rect_from_hull(list(zip(hx[a:b].tolist(), hy[a:b].tolist())))
    return tuple(rects)


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
    points TL,TR,BR,BL. Returns (4, 2) absolute corner coords: the
    ``_unclip_quads`` of one rect."""
    rect = (np.array([v], dtype=np.float64) for v in (cx, cy, w, h, angle_rad))
    return _unclip_quads(*rect, unclip_ratio)[0]


def _libm(fn, *args: np.ndarray) -> np.ndarray:
    """``fn`` (a ``math`` function) per element: libm's bits, which
    NumPy's own trig does not always give."""
    flat = (a.ravel().tolist() for a in args)
    return np.fromiter(map(fn, *flat), np.float64, args[0].size).reshape(args[0].shape)


def _unclip_quads(
    cx: np.ndarray, cy: np.ndarray, w: np.ndarray, h: np.ndarray, angle: np.ndarray, unclip_ratio: float
) -> np.ndarray:
    """``unclip_rotated`` over arrays of rects: (M, 4, 2) corners, each
    quad ordered as ``order_points`` orders it — stable sort by the
    angle about the corners' mean, start at the first minimal
    coordinate sum, reverse when the shoelace sum is negative. Every
    sum is the scalar chain's left-to-right adds (from 0, as Python's
    ``sum`` starts), so each corner is bit-identical to a per-rect
    evaluation."""
    d = (w + 1.0) * (h + 1.0) * unclip_ratio / (2.0 * (w + h) + 2.0)
    hw, hh = (w / 2 + d)[:, None], (h / 2 + d)[:, None]
    ux, uy = _libm(math.cos, angle)[:, None], _libm(math.sin, angle)[:, None]
    # corners c ∓ u·hw ∓ v·hh, v = (-uy, ux); a - b == a + (-1)·b exactly
    su, sv = np.array([-1.0, 1.0, 1.0, -1.0]), np.array([-1.0, -1.0, 1.0, 1.0])
    px = (cx[:, None] + su * (ux * hw)) + sv * (-uy * hh)
    py = (cy[:, None] + su * (uy * hw)) + sv * (ux * hh)
    mx = ((((0.0 + px[:, 0]) + px[:, 1]) + px[:, 2]) + px[:, 3]) / 4
    my = ((((0.0 + py[:, 0]) + py[:, 1]) + py[:, 2]) + py[:, 3]) / 4
    pos = np.argsort(_libm(math.atan2, py - my[:, None], px - mx[:, None]), axis=1, kind="stable")
    start = np.argmin(np.take_along_axis(px + py, pos, 1), axis=1)
    pos = np.take_along_axis(pos, (np.arange(4) + start[:, None]) % 4, 1)
    qx, qy = np.take_along_axis(px, pos, 1), np.take_along_axis(py, pos, 1)
    t = qx * np.roll(qy, -1, axis=1) - qy * np.roll(qx, -1, axis=1)
    flip = (((0.0 + t[:, 0]) + t[:, 1]) + t[:, 2]) + t[:, 3] < 0
    pos[flip] = pos[flip][:, [0, 3, 2, 1]]
    return np.stack([np.take_along_axis(px, pos, 1), np.take_along_axis(py, pos, 1)], axis=-1)


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


def _by_component(ys: np.ndarray, xs: np.ndarray, xe: np.ndarray, lab: np.ndarray):
    """Labeled runs (at least one) regrouped by component: (ys, xs, xe,
    comp_b), each component's runs contiguous and in raster order,
    components in raster order of their first run (a stable sort by
    label), ``comp_b`` the index of each component's first run."""
    order = np.argsort(lab, kind="stable")
    lab = lab[order]
    return ys[order], xs[order], xe[order], np.flatnonzero(np.r_[True, lab[1:] != lab[:-1]])


def _page_components(
    src: np.ndarray, binmap: np.ndarray, morph_open: bool, pixel_mode: bool, box_thresh: float
):
    """The per-page half of the group kernel: D2 + D3 on one page's
    binary map, the small-component filter (contour span < 2, i.e.
    pixel extent < 3 — base.py:106) and the D4 score. Returns
    ``((h, w), ys, xs, xe, runs per component, scores)`` of the
    components that pass ``box_thresh``; nothing in it refers to the
    maps."""
    h, w = binmap.shape
    runs = _label_runs_packed(_open_3x3_packed(binmap), h, w) if morph_open else label_runs(binmap)
    if len(runs[0]) == 0:
        return (h, w), *runs, np.zeros(0)
    ys, xs, xe, comp_b = _by_component(*runs)
    nr = np.r_[comp_b[1:], len(ys)] - comp_b
    x0, x1 = np.minimum.reduceat(xs, comp_b), np.maximum.reduceat(xe, comp_b)
    keep = ((x1 - x0) >= 3) & ((ys[comp_b + nr - 1] - ys[comp_b] + 1) >= 3)
    run = np.repeat(keep, nr)
    ys, xs, xe, nr = ys[run], xs[run], xe[run], nr[keep]
    # D4: the mean of each component's positive probabilities, gathered
    # in run order and compacted; np.sum per slice (module docstring)
    length = xe - xs
    pix = np.repeat(ys * w + xs - (np.cumsum(length) - length), length) + np.arange(int(length.sum()))
    probs = np.ascontiguousarray(src).ravel()[pix].astype(np.float64)
    if pixel_mode:
        probs = (255.0 - probs) / 255.0
    nz = probs > 0
    count = np.add.reduceat(nz, np.r_[0, np.cumsum(length)][np.cumsum(nr) - nr], dtype=np.int64)
    positive, bounds = probs[nz], np.r_[0, np.cumsum(count)].tolist()
    sums = np.array([positive[a:b].sum() for a, b in zip(bounds[:-1], bounds[1:])])
    scores = np.divide(sums, count, out=np.zeros(len(count)), where=count > 0)
    ok = ~(scores < box_thresh)
    run = np.repeat(ok, nr)
    return (h, w), ys[run], xs[run], xe[run], nr[ok], scores[ok]


def _group_polys(pages: list, unclip_ratio: float) -> list[np.ndarray]:
    """D5-D6 over a group's ``_page_components`` in one vectorized pass:
    one (N, 5, 2) float32 polygon array per page, in order."""
    ys, xs, xe, nr, scores = (np.concatenate([p[k] for p in pages]) for k in range(1, 6))
    if len(nr) == 0:
        return [np.zeros((0, 5, 2), dtype=np.float32) for _ in pages]
    comp_b = np.cumsum(nr) - nr
    quads = _unclip_quads(*_rects_for_components(ys, xs, xe, comp_b, np.arange(len(nr))), unclip_ratio)
    per_page = [len(p[5]) for p in pages]
    hw = np.repeat(np.array([p[0] for p in pages], dtype=np.int64), per_page, axis=0)
    polys = np.zeros((len(nr), 5, 2))
    polys[:, :4, 0] = quads[:, :, 0] / hw[:, 1:]
    polys[:, :4, 1] = quads[:, :, 1] / hw[:, :1]
    polys[:, 4, 1] = scores
    return np.split(np.clip(polys.astype(np.float32), 0, 1), np.cumsum(per_page)[:-1])


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


def postprocess_prob_maps_rotated(
    prob_maps,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> list[np.ndarray]:
    """Full rotated D1-D6 chain for a group of (H, W) probability maps —
    the real-CNN path (a non-affine model can't be folded; see
    detect_post.postprocess_prob_maps): one (N, 5, 2) float32 array per
    map, in order. ``prob_maps`` may be any iterable; each map is
    labeled and gathered as it arrives, and only it and the next map
    are alive at once.
    Geometry is bit-identical to the folded path; scores differ only
    in float32-map ulps."""
    pages = [_page_components(m, m >= bin_thresh, morph_open, False, box_thresh) for m in prob_maps]
    return _group_polys(pages, unclip_ratio)


def postprocess_pixel_maps_rotated(
    px_maps,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> list[np.ndarray]:
    """Full rotated D1-D6 chain folded through the affine stub model,
    directly on a group of uint8 maps (see
    detect_post.postprocess_pixel_maps for the folding argument —
    identical here, geometry is bit-identical); iterable as in
    ``postprocess_prob_maps_rotated``."""
    pix_thresh = float(np.floor(255.0 - 255.0 * bin_thresh))
    pages = [_page_components(m, m <= pix_thresh, morph_open, True, box_thresh) for m in px_maps]
    return _group_polys(pages, unclip_ratio)


def postprocess_prob_map_rotated(
    prob_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    """``postprocess_prob_maps_rotated`` for one page's map."""
    return postprocess_prob_maps_rotated([prob_map], bin_thresh, box_thresh, unclip_ratio, morph_open)[0]


def postprocess_pixel_map_rotated(
    px_map: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    morph_open: bool = True,
) -> np.ndarray:
    """``postprocess_pixel_maps_rotated`` for one page's uint8 map."""
    return postprocess_pixel_maps_rotated([px_map], bin_thresh, box_thresh, unclip_ratio, morph_open)[0]


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
