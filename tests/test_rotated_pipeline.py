"""Rotated-word pipeline (assume_straight_pages=False) tests.

Kernel-level: min-area rect / order_points / rotated unclip / rotated
padding removal match the reference's rotated-branch math
(postprocessor/base.py:38-139, utils/geometry.py:82-104,
models/detection/_utils/base.py:12-62). End-to-end: span-sequence
equality over the rotated fixture corpus — pages skewed 6-10° in-plane,
(N,4,2) polygons through detect → rcrop → recognize → rotated builder
→ B7 enclosing-box export.
"""

import numpy as np
import pandas as pd
import pytest

from onnxtr_spark.corpus import (
    FIXTURE_TEXTS,
    angle_for,
    build_rotated_words_corpus_pdfs,
    expected_spans,
)
from onnxtr_spark.kernels import rotated_post
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.pipeline import extract_spans
from tests import detect_post_oracle as detect_post
from tests import rotated_post_oracle as oracle
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA, golden_flat


def test_min_area_rect_recovers_rotated_rects():
    rng = np.random.RandomState(7)
    for _ in range(30):
        theta = rng.uniform(-np.pi / 2, np.pi / 2)
        w, h = rng.uniform(10, 100), rng.uniform(5, 30)
        cx, cy = rng.uniform(50, 200, 2)
        corners = oracle.box_points(cx, cy, w, h, theta)
        us = rng.uniform(-w / 2, w / 2, 200)
        vs = rng.uniform(-h / 2, h / 2, 200)
        u = np.array([np.cos(theta), np.sin(theta)])
        v = np.array([-np.sin(theta), np.cos(theta)])
        pts = np.vstack([np.array([cx, cy]) + us[:, None] * u + vs[:, None] * v, corners])
        rcx, rcy, rw, rh, _ = oracle.min_area_rect(pts)
        assert abs(rw * rh - w * h) < 1e-6 * w * h + 1e-6
        assert abs(rcx - cx) < 1e-8 and abs(rcy - cy) < 1e-8


def test_min_area_rect_degenerate():
    cx, cy, w, h, ang = oracle.min_area_rect(np.array([[3.0, 4.0]]))
    assert (cx, cy, w, h) == (3.0, 4.0, 0.0, 0.0)
    cx, cy, w, h, ang = oracle.min_area_rect(np.array([[0.0, 0.0], [3.0, 4.0]]))
    assert (cx, cy) == (1.5, 2.0) and abs(w - 5.0) < 1e-12 and h == 0.0


def test_order_points_semantics():
    # TL first (min coordinate sum), clockwise in image coords
    q = oracle.box_points(10, 10, 6, 2, np.deg2rad(25))
    o = oracle.order_points(q)
    assert np.argmin(o.sum(1)) == 0
    area = 0.5 * np.sum(o[:, 0] * np.roll(o[:, 1], -1) - o[:, 1] * np.roll(o[:, 0], -1))
    assert area > 0  # y-down clockwise
    # axis-aligned square: exact TL,TR,BR,BL
    sq = np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]])
    assert np.allclose(oracle.order_points(sq[[2, 0, 3, 1]]), sq)


def test_unclip_rotated_axis_aligned_analytic():
    quad = oracle.unclip_rotated(50, 20, 30, 10, 0.0, 1.5)
    d = (31 * 11) * 1.5 / (2 * 40 + 2)  # reference's +1 cv2-approx correction
    exp = np.array([
        [50 - 15 - d, 20 - 5 - d],
        [50 + 15 + d, 20 - 5 - d],
        [50 + 15 + d, 20 + 5 + d],
        [50 - 15 - d, 20 + 5 + d],
    ])
    assert np.allclose(quad, exp)


def test_component_runs_consistent_with_rects():
    rng = np.random.RandomState(3)
    bm = (rng.rand(64, 64) > 0.7).astype(np.uint8)
    rects = detect_post.connected_components(bm)
    runs = oracle.component_runs(bm)
    assert len(rects) == len(runs)
    for (x, y, w, h), rr in zip(rects, runs):
        ys = [r[0] for r in rr]
        x0 = min(r[1] for r in rr)
        x1 = max(r[2] for r in rr)
        assert (x0, min(ys), x1 - x0, max(ys) - min(ys) + 1) == (x, y, w, h)
        # run pixel count equals component size under the same labeling
        assert all(xe > xs for _, xs, xe in rr)


def test_remove_padding_rotated_branches():
    polys = np.array([[[0.2, 0.3], [0.6, 0.3], [0.6, 0.5], [0.2, 0.5], [0.0, 0.9]]])
    # h > w symmetric: x dilated about 0.5
    out = rotated_post.remove_padding_rotated(polys, 200, 100, True, True)
    assert np.allclose(out[0, :, 0], np.clip((polys[0, :, 0] - 0.5) * 2 + 0.5, 0, 1))
    assert np.allclose(out[0, :, 1], polys[0, :, 1])
    # h > w asymmetric
    out = rotated_post.remove_padding_rotated(polys, 200, 100, True, False)
    assert np.allclose(out[0, :, 0], np.clip(polys[0, :, 0] * 2, 0, 1))
    # w > h symmetric: y dilated — including the score row's y (the
    # reference applies _remove_padding before detach_scores)
    out = rotated_post.remove_padding_rotated(polys, 100, 200, True, True)
    assert np.allclose(out[0, :, 1], np.clip((polys[0, :, 1] - 0.5) * 2 + 0.5, 0, 1))
    assert out[0, 4, 1] == 1.0  # 0.9 -> 1.3 clipped, faithful quirk
    # w > h asymmetric
    out = rotated_post.remove_padding_rotated(polys, 100, 200, True, False)
    assert np.allclose(out[0, :, 1], np.clip(polys[0, :, 1] * 2, 0, 1))
    # no-op cases
    assert rotated_post.remove_padding_rotated(polys, 100, 100, True, True) is not polys
    assert np.allclose(rotated_post.remove_padding_rotated(polys, 100, 100, True, True), polys)
    assert rotated_post.remove_padding_rotated(polys, 200, 100, False, True) is polys


def test_polys_to_straight_b7():
    polys = np.array([
        [[0.1, 0.2], [0.5, 0.1], [0.55, 0.3], [0.15, 0.4]],
    ])
    out = rotated_post.polys_to_straight(polys)
    assert np.allclose(out, [[0.1, 0.1, 0.55, 0.4]])
    assert rotated_post.polys_to_straight(np.zeros((0, 4, 2))).shape == (0, 4)


def test_prob_and_pixel_rotated_postprocess_agree():
    from onnxtr_spark import imaging

    img = imaging.render_page([["hello", "world"], ["spark", "rows"]])
    rot = imaging.rotate_image_nearest(img, 7.0)
    px = rot[:, :, 0]
    prob = (255.0 - px.astype(np.float32)) / 255.0
    folded = rotated_post.postprocess_pixel_map_rotated(px)
    bitmap = (prob >= detect_post.BIN_THRESH).astype(np.uint8)
    bitmap = detect_post.binary_open_3x3(bitmap)
    unfolded = oracle.bitmap_to_polys(prob, bitmap)
    assert folded.shape == unfolded.shape == (4, 5, 2)
    assert np.allclose(folded[:, :4, :], unfolded[:, :4, :])
    assert np.allclose(folded[:, 4, 1], unfolded[:, 4, 1], atol=1e-6)


@pytest.fixture(scope="module")
def rotated_corpus(spark):
    docs_pdf, media_pdf = build_rotated_words_corpus_pdfs(FIXTURE_TEXTS)
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    return docs, media


def test_rotated_span_sequence_equality(rotated_corpus):
    """North-rule invariant on the rotated corpus: per-doc span sequence
    (kind, text, media_ref, order) equality through the full
    assume_straight_pages=False pipeline."""
    docs, media = rotated_corpus
    got = (
        extract_spans(docs, media, det_cfg=DetectConfig(assume_straight_pages=False))
        .toPandas()
        .sort_values(["doc_id", "offset"])
        .reset_index(drop=True)
    )
    exp = golden_flat().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[exp.columns].astype(str), exp.astype(str))


def test_rotated_export_geometry_is_straight_enclosing(rotated_corpus):
    """B7: the rotated pipeline's word geometry columns are enclosing
    straight boxes (xmin<xmax, ymin<ymax, in [0,1]) with real scores."""
    from onnxtr_spark.stages.fused import detect_recognize_pages
    from onnxtr_spark.stages.pipeline import media_pages

    docs, media = rotated_corpus
    words = detect_recognize_pages(
        media_pages(docs, media), det_cfg=DetectConfig(assume_straight_pages=False)
    ).toPandas()
    assert len(words) > 0
    assert (words.xmin < words.xmax).all() and (words.ymin < words.ymax).all()
    for c in ["xmin", "ymin", "xmax", "ymax"]:
        assert words[c].between(0, 1).all()
    assert words.objectness.between(0.1, 1).all()
    # skew is real: enclosing boxes of rotated words are taller than the
    # straight corpus' glyph rows would be
    assert angle_for(FIXTURE_TEXTS[0][0], 0) != 0


def test_rotated_asymmetric_pad_span_equality(rotated_corpus):
    """The rotated path through the asymmetric-pad Resize contract
    (preserve_aspect_ratio=True, symmetric_pad=False): detection runs
    on a bottom/right-padded square map and the polygon-channel P8
    branch (rotated_post.remove_padding_rotated, reference
    _utils/base.py:12-62 loc_pred[:, :, c] rescale) restores
    page-relative polygons — spans equal the default contract's."""
    docs, media = rotated_corpus
    got = (
        extract_spans(
            docs, media,
            det_cfg=DetectConfig(assume_straight_pages=False, symmetric_pad=False),
        )
        .toPandas()
        .sort_values(["doc_id", "offset"])
        .reset_index(drop=True)
    )
    exp = golden_flat().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[exp.columns].astype(str), exp.astype(str))


def test_array_native_postprocess_equals_per_component_reference():
    """The array-native _polys_from_labeled_runs (row-reduced hulls +
    batched calipers + flat score gather) must be bit-identical to a
    straightforward per-component derivation through the PUBLIC kernels
    (component_runs -> _runs_score_px -> min_area_rect -> unclip_rotated)
    — the shape the pre-r6 implementation had."""
    rng = np.random.default_rng(123)
    checked = 0
    for _ in range(60):
        h = int(rng.integers(12, 90))
        w = int(rng.integers(12, 90))
        px = (rng.random((h, w)) * 255).astype(np.uint8)
        px[px < 60] = 0  # carve dark blobs
        got = rotated_post.postprocess_pixel_map_rotated(px)

        # reference: per-component loop over the public kernels
        pix_thresh = float(np.floor(255.0 - 255.0 * detect_post.BIN_THRESH))
        bitmap = (px <= pix_thresh).astype(np.uint8)
        bitmap = detect_post.binary_open_3x3(bitmap)
        polys = []
        for runs in oracle.component_runs(bitmap):
            ys = [r[0] for r in runs]
            x0 = min(r[1] for r in runs)
            x1 = max(r[2] for r in runs)
            if (x1 - x0) < 3 or (max(ys) - min(ys) + 1) < 3:
                continue
            score = oracle._runs_score_px(px, runs)
            if score < detect_post.BOX_THRESH:
                continue
            pts = []
            for y, xs, xe in runs:
                fy = float(y)
                pts.append((float(xs), fy))
                pts.append((float(xe - 1), fy))
            quad = oracle.unclip_rotated(
                *oracle.min_area_rect(pts), detect_post.UNCLIP_RATIO
            )
            quad[:, 0] /= bitmap.shape[1]
            quad[:, 1] /= bitmap.shape[0]
            polys.append(np.vstack([quad, np.array([0.0, score])]))
        want = (
            np.clip(np.asarray(polys, dtype=np.float32), 0, 1)
            if polys
            else np.zeros((0, 5, 2), dtype=np.float32)
        )
        assert got.shape == want.shape
        assert np.array_equal(got, want)
        checked += got.shape[0]
    assert checked > 50  # the fuzz actually produced components


def test_batched_calipers_equal_scalar_rect():
    """_rects_from_hull_batch must reproduce _rect_from_hull bit-for-bit
    (projection expressions, argmin tie-break, sqrt-vs-hypot lengths)."""
    import math

    rng = np.random.default_rng(7)
    hx, hy, counts, hulls = [], [], [], []
    for _ in range(200):
        pts = [
            (float(int(a)), float(int(b)))
            for a, b in rng.integers(0, 800, size=(int(rng.integers(4, 40)), 2))
        ]
        hull = oracle._hull_points(pts)
        if len(hull) < 3:
            continue
        hulls.append(hull)
        for x, y in hull:
            hx.append(x)
            hy.append(y)
        counts.append(len(hull))
    cx, cy, w, h, ux, uy = rotated_post._rects_from_hull_batch(hx, hy, counts)
    for i, hull in enumerate(hulls):
        scx, scy, sw, sh, sang = oracle._rect_from_hull(hull)
        assert (float(cx[i]), float(cy[i]), float(w[i]), float(h[i])) == (scx, scy, sw, sh)
        assert math.atan2(float(uy[i]), float(ux[i])) == sang
