"""Rotated-geometry kernels vs the reference's own test expectations
(tests/common/test_utils_geometry.py:141-160, test_models_builder.py
rotated rows)."""

import numpy as np

from onnxtr_spark.kernels.rotated import (
    estimate_page_angle,
    extract_rcrops_nearest,
    remap_boxes,
    resolve_lines_rotated,
    rotate_boxes,
)
from tests.rotated_post_oracle import sort_boxes_rotated

ROT_CASE = np.asarray([
    [[0.1, 0.1], [0.2, 0.2], [0.15, 0.25], [0.05, 0.15]],
    [[0.5, 0.5], [0.6, 0.6], [0.55, 0.65], [0.45, 0.55]],
])


def test_rotate_boxes_reference_cases():
    boxes = np.array([[0.1, 0.1, 0.8, 0.3, 0.5]])
    rboxes = np.array([[0.1, 0.1], [0.8, 0.1], [0.8, 0.3], [0.1, 0.3]])
    assert np.all(rotate_boxes(boxes, angle=0.0, orig_shape=(1, 1)) == rboxes)
    assert np.all(rotate_boxes(boxes, angle=0.5, orig_shape=(1, 1)) == rboxes)
    assert rotate_boxes(boxes, angle=30, orig_shape=(1, 1)).shape == (1, 4, 2)

    boxes = np.array([[0.0, 0.0, 0.6, 0.2, 0.5]])
    out = rotate_boxes(boxes, angle=-90, orig_shape=(1, 1), min_angle=0)
    assert np.allclose(out, np.array([[[1, 0.0], [1, 0.6], [0.8, 0.6], [0.8, 0.0]]]))
    out = rotate_boxes(boxes, angle=+90, orig_shape=(1, 1), min_angle=0)
    assert np.allclose(out, np.array([[[0, 1.0], [0, 0.4], [0.2, 0.4], [0.2, 1.0]]]))


def test_remap_boxes_recenters():
    polys = np.array([[[0.5, 0.5]] * 4])
    out = remap_boxes(polys, orig_shape=(100, 100), dest_shape=(200, 200))
    assert np.allclose(out, 0.5)  # centered content stays centered
    out = remap_boxes(polys, orig_shape=(100, 100), dest_shape=(100, 200))
    assert np.allclose(out[0, 0], [0.5, 0.5])


def test_estimate_page_angle_level_and_tilted():
    level = np.array([[[0.1, 0.2], [0.3, 0.2], [0.3, 0.3], [0.1, 0.3]]])
    assert estimate_page_angle(level) == 0.0
    # reading direction tilted upward (y decreases left->right) => positive ccw
    tilted = np.array([[[0.1, 0.3], [0.3, 0.1], [0.35, 0.15], [0.15, 0.35]]])
    assert estimate_page_angle(tilted) > 0


def test_sort_and_lines_rotated_reference_row():
    # reference test_models_builder.py rotated rows: order [0,1], lines [[0],[1]]
    order, straight = sort_boxes_rotated(ROT_CASE)
    assert order.tolist() == [0, 1]
    assert straight.shape == (2, 4)
    assert resolve_lines_rotated(ROT_CASE) == [[0], [1]]


def test_extract_rcrops_nearest_axis_aligned_matches_slice():
    img = np.arange(60 * 80 * 3, dtype=np.uint8).reshape(60, 80, 3)
    # axis-aligned quad == plain slice up to nearest-sample alignment
    poly = np.array([[[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75]]])
    crop = extract_rcrops_nearest(img, poly)[0]
    assert crop.shape == (30, 40, 3)
    np.testing.assert_array_equal(crop, img[15:45, 20:60])
    # 90°-rotated quad: crop of transposed dims
    poly_rot = np.array([[[0.75, 0.25], [0.75, 0.75], [0.25, 0.75], [0.25, 0.25]]])
    crop_rot = extract_rcrops_nearest(img, poly_rot)[0]
    assert crop_rot.shape == (40, 30, 3)
    assert extract_rcrops_nearest(img, np.zeros((0, 4, 2))) == []
