"""G4 arbitrary-angle straightening: estimate_orientation unit
semantics pinned against the reference contract
(models/_utils.py:33-151), plus the rotate-undo convention."""

import numpy as np
import pytest

from onnxtr_spark import imaging
from onnxtr_spark.corpus import R_CELL_W, R_GAP_W, small_angle_for
from onnxtr_spark.kernels.straighten import binary_dilate_rect, estimate_orientation

WORDS = ["extraordinary", "quick", "brown", "jumping", "overcast",
         "lazily", "doggedly", "against", "anomaly", "datasets"]


def _page(cell_w=R_CELL_W, gap_w=R_GAP_W):
    lines = [[WORDS[(i * 3 + j) % 10] for j in range(4)] for i in range(6)]
    return imaging.render_page(lines, cell_w=cell_w, gap_w=gap_w)


def _bitmap(gray):
    return (gray <= 229).astype(np.uint8)  # the folded bin_thresh=0.1 cut


def test_straight_page_estimates_zero():
    assert estimate_orientation(_bitmap(_page()[:, :, 0])) == 0


@pytest.mark.parametrize("true_angle", [1, 3, 5, -2, -4])
def test_skew_recovered_and_rotate_undoes(true_angle):
    """Integer skews in the corpus range are recovered exactly, and the
    repo convention holds: rotate_image_nearest(page, estimate)
    straightens (estimate has the OPPOSITE sign of the stored skew)."""
    rot = imaging.rotate_image_nearest(_page()[:, :, 0], true_angle)
    est = estimate_orientation(_bitmap(rot))
    assert est == -true_angle
    undone = imaging.rotate_image_nearest(rot, est)
    assert estimate_orientation(_bitmap(undone)) == 0


def test_lower_area_and_ratio_filters():
    """Small blobs (area <= lower_area) and non-line-like blobs
    (w/h <= 3) contribute no angles (reference _utils.py:88-116)."""
    img = np.full((200, 300), 255, dtype=np.uint8)
    img[20:28, 20:28] = 0        # 64 px, under lower_area=100
    img[100:140, 100:140] = 0    # square: ratio 1 < 3
    assert estimate_orientation(_bitmap(img)) == 0


def test_ninety_degree_estimate_treated_as_zero():
    """|skew| == 90 -> 0 (vertical detection of horizontal lines,
    reference _utils.py:125-127): a page of vertical bars estimates 0."""
    img = np.full((300, 300), 255, dtype=np.uint8)
    for x in range(40, 260, 40):
        img[50:250, x : x + 4] = 0  # tall thin vertical lines
    assert estimate_orientation(_bitmap(img)) == 0


def test_confident_general_orientation_overrides():
    """With a confident page-level classification, a perpendicular or
    equal-magnitude skew estimate defers to the model
    (reference _utils.py:137-150)."""
    bm = _bitmap(_page()[:, :, 0])  # skew estimate = 0 (multiple of 90)
    assert estimate_orientation(bm, (180, 0.9)) == 180
    # low confidence -> the classifier hint is ignored, skew rules
    assert estimate_orientation(bm, (180, 0.1)) == 0


def test_dilate_rect_merges_words():
    """The not-confident branch dilates with a (w/100, h/100) kernel to
    merge words into lines (reference _utils.py:76-81): two words a few
    px apart become one component after dilation."""
    img = np.zeros((20, 100), dtype=np.uint8)
    img[8:12, 10:40] = 1
    img[8:12, 44:74] = 1  # 4-px gap
    from tests.rotated_post_oracle import component_runs

    assert len(component_runs(img)) == 2
    assert len(component_runs(binary_dilate_rect(img, 5, 1))) == 1
    # ky dilation bridges vertical gaps the same way
    img2 = np.zeros((40, 20), dtype=np.uint8)
    img2[5:10, 5:15] = 1
    img2[13:18, 5:15] = 1
    assert len(component_runs(binary_dilate_rect(img2, 1, 5))) == 1


def test_small_angle_for_contract():
    angles = {small_angle_for(str(d), p) for d in range(50) for p in range(3)}
    assert angles <= set(range(-5, 6)) - {0}
    assert {abs(a) for a in angles} == {1, 2, 3, 4, 5}
    assert any(a > 0 for a in angles) and any(a < 0 for a in angles)
