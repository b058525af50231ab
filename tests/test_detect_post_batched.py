"""Bit-identity fuzz: the stacked group D1-D6 kernel against the
per-page oracle (tests/detect_post_oracle.py), for the folded uint8
pixel-map path and the prob-map path.

Groups mix page widths (including widths that are not multiples of 8),
pages 1-3 rows tall, blank pages, components touching each of the four
page borders, and one-page groups.
"""

import numpy as np
import pytest

from onnxtr_spark.kernels import detect_post
from tests import detect_post_oracle as oracle


def _page(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    px = np.full((h, w), 255, dtype=np.uint8)
    kind = rng.integers(0, 4)
    if kind == 0:  # blank
        return px
    for _ in range(int(rng.integers(1, 8))):  # word-like blocks, dark or faint
        y, x = int(rng.integers(0, h)), int(rng.integers(0, w))
        px[y : y + int(rng.integers(1, 14)), x : x + int(rng.integers(1, 30))] = rng.integers(0, 256)
    if kind >= 2:  # blocks flush with each of the four borders
        t = int(rng.integers(1, 5))
        px[:t, : int(rng.integers(1, w + 1))] = rng.integers(0, 200)
        px[-t:, int(rng.integers(0, w)) :] = rng.integers(0, 200)
        px[: int(rng.integers(1, h + 1)), :t] = rng.integers(0, 200)
        px[int(rng.integers(0, h)) :, -t:] = rng.integers(0, 200)
    if kind == 3:  # speckle
        noise = rng.random((h, w)) < rng.uniform(0.05, 0.6)
        px[noise] = rng.integers(0, 256, int(noise.sum()))
    return px


def _group(rng: np.random.Generator) -> list[np.ndarray]:
    n = 1 if rng.random() < 0.3 else int(rng.integers(2, 7))
    pages = []
    for _ in range(n):
        h = int(rng.integers(1, 4)) if rng.random() < 0.25 else int(rng.integers(4, 60))
        pages.append(_page(rng, h, int(rng.integers(1, 70))))
    return pages


THRESHOLDS = [(0.1, 0.1), (0.3, 0.05), (0.0, 0.1), (0.1, 0.6)]


def _assert_same(got: list[np.ndarray], want: list[np.ndarray]) -> None:
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and g.shape == w.shape
        np.testing.assert_array_equal(g, w)


@pytest.mark.parametrize("bin_thresh, box_thresh", THRESHOLDS)
@pytest.mark.parametrize("morph_open", [True, False])
def test_pixel_maps_match_per_page_oracle(bin_thresh, box_thresh, morph_open):
    rng = np.random.default_rng([11, int(bin_thresh * 10), int(box_thresh * 100), morph_open])
    for _ in range(60):
        maps = _group(rng)
        got = detect_post.postprocess_pixel_maps(maps, bin_thresh, box_thresh, 1.5, morph_open)
        want = [oracle.postprocess_pixel_map(m, bin_thresh, box_thresh, 1.5, morph_open) for m in maps]
        _assert_same(got, want)


@pytest.mark.parametrize("bin_thresh, box_thresh", THRESHOLDS)
@pytest.mark.parametrize("morph_open", [True, False])
def test_prob_maps_match_per_page_oracle(bin_thresh, box_thresh, morph_open):
    rng = np.random.default_rng([12, int(bin_thresh * 10), int(box_thresh * 100), morph_open])
    for _ in range(60):
        maps = [
            ((255.0 - m) / 255.0 + rng.normal(0, 0.02, m.shape)).astype(np.float32)
            for m in _group(rng)
        ]
        got = detect_post.postprocess_prob_maps(maps, bin_thresh, box_thresh, 1.5, morph_open)
        want = [oracle.postprocess_prob_map(m, bin_thresh, box_thresh, 1.5, morph_open) for m in maps]
        _assert_same(got, want)


def test_one_page_calls_and_bitmap_to_boxes_match_oracle():
    rng = np.random.default_rng(13)
    for _ in range(80):
        (px,) = _group(rng)[:1]
        _assert_same([detect_post.postprocess_pixel_map(px)], [oracle.postprocess_pixel_map(px)])
        prob = ((255.0 - px) / 255.0).astype(np.float32)
        _assert_same([detect_post.postprocess_prob_map(prob)], [oracle.postprocess_prob_map(prob)])
        bm = (px < 128).astype(np.uint8)
        pred = prob.astype(np.float64)
        _assert_same([detect_post.bitmap_to_boxes(pred, bm)], [oracle.bitmap_to_boxes(pred, bm)])
        np.testing.assert_array_equal(
            detect_post._open_3x3_packed(bm), oracle.open_3x3_packed(bm)
        )


def test_components_do_not_leak_across_stacked_pages():
    # two pages whose text touches the shared edge, and a narrow page
    # whose right border meets the wider page's pad columns
    top = np.full((6, 20), 255, np.uint8)
    top[-3:, 2:12] = 0
    mid = np.full((5, 9), 255, np.uint8)
    mid[:, 4:] = 0
    bottom = np.full((7, 20), 255, np.uint8)
    bottom[:4, 2:12] = 0
    maps = [top, mid, bottom]
    got = detect_post.postprocess_pixel_maps(maps)
    _assert_same(got, [oracle.postprocess_pixel_map(m) for m in maps])
    assert [len(b) for b in got] == [1, 1, 1]


def test_unclip_rect_vectorized_matches_scalar():
    rng = np.random.default_rng(14)
    x, y = rng.integers(-5, 500, 400), rng.integers(-5, 500, 400)
    w, h = rng.integers(0, 90, 400), rng.integers(0, 90, 400)
    got = np.stack(detect_post.unclip_rect(x, y, w, h, 1.5), axis=1)
    want = [oracle.unclip_rect(*map(int, r), 1.5) for r in zip(x, y, w, h)]
    np.testing.assert_array_equal(got, np.array(want))
