"""Bit-identity fuzz of the batched rotated page path against the
per-page and per-item oracles (tests/rotated_post_oracle.py).

The group D1-D6 kernel runs in pixel mode and prob mode over groups
that mix page widths, pages 1-3 rows tall, blank pages, components
touching each page border, zero and negative probabilities inside
components (the masked D4 score), large many-vertex blobs, one-page
groups and groups whose every component fails ``box_thresh``. Polygons
are compared as ``uint32`` views. The reading-order scan, the G3
polygon roll and the G2 crop gather are compared with their loops.
"""

import math

import numpy as np
import pytest

from onnxtr_spark.kernels import detect_post, rotated, rotated_post
from onnxtr_spark.kernels.straighten import estimate_orientation
from tests import builder_oracle
from tests import rotated_post_oracle as oracle


def _page(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    px = np.full((h, w), 255, dtype=np.uint8)
    kind = rng.integers(0, 5)
    if kind == 0:  # blank
        return px
    for _ in range(int(rng.integers(1, 8))):  # word-like blocks, dark, faint or white
        y, x = int(rng.integers(0, h)), int(rng.integers(0, w))
        px[y : y + int(rng.integers(1, 14)), x : x + int(rng.integers(1, 30))] = rng.integers(0, 256)
    if kind >= 2:  # blocks flush with each of the four borders
        t = int(rng.integers(1, 5))
        px[:t, : int(rng.integers(1, w + 1))] = rng.integers(0, 200)
        px[-t:, int(rng.integers(0, w)) :] = rng.integers(0, 200)
        px[: int(rng.integers(1, h + 1)), :t] = rng.integers(0, 200)
        px[int(rng.integers(0, h)) :, -t:] = rng.integers(0, 200)
    if kind == 3:  # speckle, including white (zero-probability) pixels
        noise = rng.random((h, w)) < rng.uniform(0.05, 0.6)
        px[noise] = rng.integers(0, 256, int(noise.sum()))
    if kind == 4:  # a tilted disk: many hull vertices, a long score sum
        yy, xx = np.mgrid[:h, :w]
        cy, cx, r = rng.uniform(0, h), rng.uniform(0, w), rng.uniform(2, 40)
        disk = ((yy - cy) / r) ** 2 + ((xx - cx) / (0.4 * r)) ** 2 < 1
        px[disk] = rng.integers(0, 256, int(disk.sum()))
    return px


def _group(rng: np.random.Generator) -> list[np.ndarray]:
    n = 1 if rng.random() < 0.3 else int(rng.integers(2, 7))
    pages = []
    for _ in range(n):
        h = int(rng.integers(1, 4)) if rng.random() < 0.25 else int(rng.integers(4, 90))
        pages.append(_page(rng, h, int(rng.integers(1, 110))))
    return pages


# (bin_thresh, box_thresh): defaults; bin 0 binarizes zero-probability
# pixels into components; box 0.9 fails (nearly) every component
THRESHOLDS = [(0.1, 0.1), (0.3, 0.05), (0.0, 0.1), (0.1, 0.9), (0.0, 0.0)]


def _assert_same(got: list[np.ndarray], want: list[np.ndarray]) -> None:
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype == np.float32 and g.shape == w.shape
        np.testing.assert_array_equal(g.view(np.uint32), w.view(np.uint32))


@pytest.mark.parametrize("bin_thresh, box_thresh", THRESHOLDS)
@pytest.mark.parametrize("morph_open", [True, False])
def test_pixel_maps_match_per_page_oracle(bin_thresh, box_thresh, morph_open):
    rng = np.random.default_rng([21, int(bin_thresh * 10), int(box_thresh * 100), morph_open])
    for _ in range(40):
        maps = _group(rng)
        got = rotated_post.postprocess_pixel_maps_rotated(iter(maps), bin_thresh, box_thresh, 1.5, morph_open)
        want = [oracle.postprocess_pixel_map_rotated(m, bin_thresh, box_thresh, 1.5, morph_open) for m in maps]
        _assert_same(got, want)


@pytest.mark.parametrize("bin_thresh, box_thresh", THRESHOLDS + [(-0.05, 0.1)])
@pytest.mark.parametrize("morph_open", [True, False])
def test_prob_maps_match_per_page_oracle(bin_thresh, box_thresh, morph_open):
    rng = np.random.default_rng([22, int(bin_thresh * 100) + 10, int(box_thresh * 100), morph_open])
    for _ in range(40):
        maps = []
        for m in _group(rng):
            prob = ((255.0 - m) / 255.0 + rng.normal(0, 0.03, m.shape)).astype(np.float32)
            prob[rng.random(m.shape) < 0.1] = 0.0  # exact zeros inside components
            maps.append(prob)
        got = rotated_post.postprocess_prob_maps_rotated(iter(maps), bin_thresh, box_thresh, 1.5, morph_open)
        want = [oracle.postprocess_prob_map_rotated(m, bin_thresh, box_thresh, 1.5, morph_open) for m in maps]
        _assert_same(got, want)


def test_every_component_failing_box_thresh_gives_empty_pages():
    rng = np.random.default_rng(23)
    maps = [_page(rng, 40, 60) for _ in range(4)]
    got = rotated_post.postprocess_pixel_maps_rotated(maps, 0.1, 1.5)
    assert [g.shape for g in got] == [(0, 5, 2)] * 4


def test_one_page_calls_and_bitmap_to_polys_match_oracle():
    rng = np.random.default_rng(24)
    for _ in range(60):
        (px,) = _group(rng)[:1]
        _assert_same(
            [rotated_post.postprocess_pixel_map_rotated(px)], [oracle.postprocess_pixel_map_rotated(px)]
        )
        prob = ((255.0 - px) / 255.0).astype(np.float32)
        _assert_same(
            [rotated_post.postprocess_prob_map_rotated(prob)], [oracle.postprocess_prob_map_rotated(prob)]
        )
        # a bitmap that is not the map's own threshold: zero-probability
        # pixels inside components take the masked score
        bm = (rng.random(px.shape) < 0.7).astype(np.uint8)
        ys, xs, xe, lab = detect_post.label_runs(bm)
        want = oracle.polys_from_labeled_runs(prob, False, ys, xs, xe, lab, 0.1, 1.5)
        _assert_same([oracle.bitmap_to_polys(prob, bm)], [want])


def test_unclip_quads_match_scalar_unclip():
    rng = np.random.default_rng(25)
    n = 3000
    cx, cy = rng.uniform(-5, 900, n), rng.uniform(-5, 900, n)
    w, h = rng.integers(0, 200, n).astype(np.float64), rng.uniform(0, 60, n)
    w[:50], h[:50] = 0.0, 0.0  # one-vertex hulls: every corner at the centre but for d
    ang = rng.uniform(-math.pi, math.pi, n)
    ang[50:100] = 0.0
    for ratio in (1.5, 0.0):
        got = rotated_post._unclip_quads(cx, cy, w, h, ang, ratio)
        want = np.array([oracle.unclip_pts(*r, ratio) for r in zip(cx, cy, w, h, ang)])
        np.testing.assert_array_equal(got.view(np.uint64), want.view(np.uint64))


@pytest.mark.parametrize("width", [9000, 70000])
def test_rects_on_wide_pages_match_scalar_min_area_rect(width):
    """Pages wider than 8k px, and wider than 2^16 px, take the batched
    hull like any other page; every component's rect equals the scalar
    ``min_area_rect`` over its run endpoints, for hulls of one, two and
    many vertices."""
    rng = np.random.default_rng(26)
    x0 = width - 808
    bm = np.zeros((40, width), dtype=np.uint8)
    for _ in range(60):
        y, x = int(rng.integers(0, 36)), int(rng.integers(x0 + 8, width - 10))
        bm[y : y + int(rng.integers(1, 5)), x : x + int(rng.integers(1, 10))] = 1
    for k in range(12):  # one-pixel dots and diagonal lines: 1-2 vertex hulls
        bm[k * 3, x0 + 40 * k] = 1
        for i in range(k + 2):
            bm[min(39, i), x0 + 108 + 40 * k + i] = 1
    ys, xs, xe, comp_b = rotated_post._by_component(*detect_post.label_runs(bm))
    sel = np.arange(len(comp_b))
    got = np.stack(rotated_post._rects_for_components(ys, xs, xe, comp_b, sel), axis=1)
    bounds = np.r_[comp_b, len(ys)]
    for c in sel:
        runs = range(bounds[c], bounds[c + 1])
        pts = [(float(x), float(ys[i])) for i in runs for x in (xs[i], xe[i] - 1)]
        assert tuple(got[c].tolist()) == oracle.min_area_rect(pts)
    assert (xs >= x0).all() and len(sel) > 30


def test_hulls_match_whatever_the_key_width():
    """Component ids too wide for the one-int64 sort key take the
    lexsort branch; the hulls are the same as under dense ids."""
    rng = np.random.default_rng(27)
    n = 4000
    comp = np.sort(rng.integers(0, 50, n))
    px, py = rng.integers(0, 70000, n), rng.integers(0, 300, n)
    dense = rotated_post._hulls_batch(px, py, comp)
    wide = rotated_post._hulls_batch(px, py, comp << 40)
    for a, b in zip(dense, wide):
        np.testing.assert_array_equal(a, b)


def test_estimate_orientation_on_a_strip_beyond_16_bit_coordinates():
    """The skew estimate reads the same angle from a 70000-px-wide strip
    as from its last 5000 columns."""
    bm = np.zeros((80, 70000), dtype=np.uint8)
    for k in range(6):  # thick lines rising 1 px per 12 px
        x = 65500 + 700 * k
        for i in range(600):
            bm[60 - i // 12 : 64 - i // 12, x + i] = 1
    angle = estimate_orientation(bm, (0, 1.0))
    assert angle != 0 and angle == estimate_orientation(np.ascontiguousarray(bm[:, 65000:]), (0, 1.0))


def _line_runs(kind: str, y: int, x: int, n: int) -> list[tuple[int, int, int]]:
    """Row runs of a 1-px line of ``n`` pixels from (x, y)."""
    if kind == "horizontal":
        return [(y, x, x + n)]
    step = {"vertical": 0, "diagonal": 1, "antidiagonal": -1}[kind]
    return [(y + i, x + step * i, x + step * i + 1) for i in range(n)]


def test_degenerate_hulls_match_scalar_rect_bit_for_bit():
    """Dots and horizontal, vertical and diagonal 1-px lines hull to one
    or two vertices, with |dx| and |dy| up to 2^17; their rects equal
    the scalar ``_rect_from_hull`` bit for bit, next to 3x3 blocks in
    the same call."""
    rng = np.random.default_rng(31)
    kinds = ["dot", "horizontal", "vertical", "diagonal", "antidiagonal", "block"]
    comps = []
    for k in range(120):
        kind = kinds[k % len(kinds)]
        n = 2**17 + 1 if k < 12 else int(rng.integers(2, 3000))  # 2^17 + 1 px: |d| = 2^17
        y, x = int(rng.integers(0, 2**17)), int(rng.integers(2**17, 2**18))
        if kind == "dot":
            comps.append([(y, x, x + 1)])
        elif kind == "block":
            comps.append([(y + i, x, x + 3) for i in range(3)])
        else:
            comps.append(_line_runs(kind, y, x, n))
    runs = np.array([r for c in comps for r in c], dtype=np.int64)
    comp_b = np.cumsum([0] + [len(c) for c in comps[:-1]])
    sel = np.arange(len(comps))
    got = np.stack(rotated_post._rects_for_components(*runs.T, comp_b, sel), axis=1)
    for c, comp in zip(sel, comps):
        hull = oracle._hull_points([(float(x), float(y)) for y, a, z in comp for x in (a, z - 1)])
        assert len(hull) <= 2 or kinds[c % len(kinds)] == "block"
        want = np.array(oracle._rect_from_hull(hull))
        np.testing.assert_array_equal(got[c].view(np.uint64), want.view(np.uint64))


def test_estimate_orientation_with_underline_strokes(monkeypatch):
    """Long 1-px strokes pass the ``areas > 100`` filter, so the skew
    estimate takes their degenerate rects; their zero height keeps them
    out of the angle, which stays that of the tilted text lines."""
    text = np.zeros((300, 900), dtype=np.uint8)
    for k in range(5):  # thick lines rising 1 px per 12 px
        for i in range(600):
            text[80 + 40 * k - i // 12 : 84 + 40 * k - i // 12, 100 + i] = 1
    page = text.copy()
    page[290, 20:880] = 1  # underline
    page[10:280, 890] = 1  # vertical rule
    for i in range(150):  # diagonal stroke
        page[100 + i, 720 + i] = 1
    real, rects = rotated_post._rects_for_components, []

    def spy(*args):
        rects.append(real(*args))
        return rects[-1]

    monkeypatch.setattr(rotated_post, "_rects_for_components", spy)
    angle = estimate_orientation(page, (0, 1.0))
    _, _, w, h, _ = rects[0]
    assert ((h == 0) & (w > 100)).sum() == 3
    assert angle != 0 and angle == estimate_orientation(text, (0, 1.0))


def _rotated_lines(rng: np.random.Generator) -> np.ndarray:
    """Word quads on a few text lines tilted by one page angle."""
    theta = math.radians(rng.uniform(-12, 12))
    quads = []
    for line in range(int(rng.integers(1, 6))):
        x = rng.uniform(0.02, 0.1)
        for _ in range(int(rng.integers(1, 7))):
            w, h = rng.uniform(0.03, 0.15), rng.uniform(0.02, 0.04)
            y = 0.1 + 0.12 * line + rng.normal(0, 0.01)
            box = np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]])
            c = np.array([0.5, 0.5])
            rot = np.array([[math.cos(theta), -math.sin(theta)], [math.sin(theta), math.cos(theta)]])
            quads.append((box - c) @ rot.T + c)
            x += w + rng.uniform(0.005, 0.06)
    quads = np.array(quads)
    return quads[rng.permutation(len(quads))]


def test_rotated_reading_order_matches_scan_oracle():
    rng = np.random.default_rng(27)
    for _ in range(300):
        polys = _rotated_lines(rng)
        lines = builder_oracle.resolve_lines_rotated(polys)
        rank, line_id = rotated.word_order_rotated(polys)
        flat = [i for line in lines for i in line]
        assert rank[flat].tolist() == list(range(len(flat)))
        assert line_id[flat].tolist() == [li for li, line in enumerate(lines) for _ in line]


def test_rectify_loc_preds_matches_per_polygon_roll():
    rng = np.random.default_rng(28)
    for n in (1, 2, 7, 40):
        polys = rng.random((n, 4, 2))
        ks = rng.integers(0, 4, n).tolist()
        got = rotated.rectify_loc_preds(polys, ks)
        np.testing.assert_array_equal(got, oracle.rectify_loc_preds(polys, ks))


@pytest.mark.parametrize("layout", ["broadcast_channel0", "rgb", "gray2d"])
def test_rotated_crops_match_fancy_index_oracle(layout):
    rng = np.random.default_rng([29, len(layout)])
    ch = rng.integers(0, 256, (57, 83), dtype=np.uint8)
    img = {
        "broadcast_channel0": np.broadcast_to(ch[:, :, None], ch.shape + (3,))[:, :, :1],
        "rgb": rng.integers(0, 256, ch.shape + (3,), dtype=np.uint8),
        "gray2d": ch,
    }[layout]
    ctr = rng.uniform(-0.1, 1.1, (200, 2))
    half = rng.uniform(0.0, 0.25, (200, 2)) * [1.0, 0.3]
    theta = rng.uniform(-math.pi, math.pi, 200)
    u = np.stack([np.cos(theta), np.sin(theta)], -1) * half[:, :1]
    v = np.stack([-np.sin(theta), np.cos(theta)], -1) * half[:, 1:]
    polys = np.stack([ctr - u - v, ctr + u - v, ctr + u + v, ctr - u + v], axis=1)
    got = rotated.extract_rcrops_nearest(img, polys)
    want = oracle.extract_rcrops_nearest(img, polys)
    assert len(got) == len(want) == 200
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and g.shape == w.shape
        np.testing.assert_array_equal(g, w)
