"""Detection postprocess + CTC decode kernels.

Invariant assertions mirror the reference's detection tests
(tests/common/test_models_detection.py:67-100: boxes shape (*,5),
rel coords in [0,1], xmin<xmax) plus exact-value checks on hand-built
maps, and CTC decode semantics from crnn.py:61-101.
"""

import numpy as np
import pytest

from onnxtr_spark.kernels.ctc import ctc_best_path
from onnxtr_spark.kernels.detect_post import postprocess_prob_map, remove_padding, unclip_rect
from onnxtr_spark.kernels.geometry import extract_crops, resize_preserve
from tests.detect_post_oracle import binary_open_3x3, bitmap_to_boxes, connected_components


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    """Numerically-stable softmax (scipy.special.softmax equivalent,
    reference crnn.py:79)."""
    shifted = x - x.max(axis=axis, keepdims=True)
    e = np.exp(shifted)
    return e / e.sum(axis=axis, keepdims=True)


def test_connected_components_basic():
    bm = np.zeros((10, 12), dtype=np.uint8)
    bm[1:4, 1:5] = 1  # rect A
    bm[6:9, 7:11] = 1  # rect B
    rects = connected_components(bm)
    assert rects == [(1, 1, 4, 3), (7, 6, 4, 3)]


def test_connected_components_8_connectivity_and_merge():
    bm = np.zeros((6, 6), dtype=np.uint8)
    bm[0, 0] = 1
    bm[1, 1] = 1  # diagonal touch -> one component
    rects = connected_components(bm)
    assert rects == [(0, 0, 2, 2)]
    # U-shape that merges late (union-find path)
    bm = np.zeros((4, 5), dtype=np.uint8)
    bm[0, 0] = bm[1, 0] = bm[2, 0] = 1
    bm[0, 4] = bm[1, 4] = bm[2, 4] = 1
    bm[3, :] = 1
    assert connected_components(bm) == [(0, 0, 5, 4)]


def test_binary_open_removes_specks_keeps_blocks():
    bm = np.zeros((20, 20), dtype=np.uint8)
    bm[2, 2] = 1  # single-pixel speck
    bm[5:11, 5:15] = 1  # solid block
    opened = binary_open_3x3(bm)
    assert opened[2, 2] == 0
    assert (opened[5:11, 5:15] == 1).all()
    assert opened.sum() == 6 * 10


def test_unclip_rect_growth():
    # 10x10 rect: d = 100*1.5/40 = 3.75 -> floor/ceil bounds
    x, y, w, h = unclip_rect(20, 20, 10, 10)
    assert (x, y) == (16, 16)
    assert (w, h) == (18, 18)


def test_bitmap_to_boxes_invariants():
    rng = np.random.RandomState(42)
    pred = rng.rand(128, 128).astype(np.float32)
    boxes = postprocess_prob_map(pred, bin_thresh=0.92, box_thresh=0.1)
    assert boxes.ndim == 2 and boxes.shape[1] == 5
    assert (boxes >= 0).all() and (boxes <= 1).all()
    if boxes.shape[0]:
        assert (boxes[:, 0] < boxes[:, 2]).all()
        assert (boxes[:, 1] < boxes[:, 3]).all()


def test_bitmap_to_boxes_score_filter():
    pred = np.zeros((64, 64), dtype=np.float32)
    pred[10:20, 10:30] = 0.05  # below box_thresh once averaged
    bm = (pred > 0).astype(np.uint8)
    assert bitmap_to_boxes(pred, bm, box_thresh=0.1).shape[0] == 0
    pred[10:20, 10:30] = 0.5
    out = bitmap_to_boxes(pred, bm, box_thresh=0.1)
    assert out.shape[0] == 1
    # box_score averages the *inclusive* clipped rect (core.py:46-52):
    # rows 10..20 (11) x cols 10..30 (21) with 10x20 dark cells.
    assert out[0, 4] == pytest.approx(0.5 * 200 / (11 * 21), abs=1e-6)


@pytest.mark.parametrize(
    "h, w, symmetric",
    [(200, 100, True), (200, 100, False), (100, 200, True), (100, 200, False), (100, 100, True)],
)
def test_remove_padding_branches(h, w, symmetric):
    boxes = np.array([[0.4, 0.45, 0.6, 0.55, 0.9]], dtype=np.float64)
    out = remove_padding(boxes, h, w, preserve_aspect_ratio=True, symmetric_pad=symmetric)
    assert out.shape == boxes.shape
    assert (out[:, :4] >= 0).all() and (out[:, :4] <= 1).all()
    if h == w:
        np.testing.assert_allclose(out, boxes)
    # reference _utils/base.py:40: symmetric h>w dilates x about 0.5
    if h > w and symmetric:
        np.testing.assert_allclose(out[0, [0, 2]], (boxes[0, [0, 2]] - 0.5) * h / w + 0.5)


def test_resize_pad_roundtrip_coords():
    """Boxes detected on the padded map, after remove_padding, must land on
    the original page content (the P1→P8 coordinate contract)."""
    page = np.full((300, 600, 3), 255, dtype=np.uint8)
    page[100:150, 200:400] = 0  # dark block
    resized = resize_preserve(page, 256, 256, symmetric_pad=True, pad_value=255)
    prob = (255 - resized[:, :, 0].astype(np.float32)) / 255.0
    boxes = postprocess_prob_map(prob, morph_open=True)
    assert boxes.shape[0] == 1
    out = remove_padding(boxes, 300, 600, True, True)
    x0, y0, x1, y1 = out[0, :4]
    # Unclip margin d <= area*1.5/perimeter; verify containment + proximity.
    assert x0 * 600 < 200 + 4 and x1 * 600 > 400 - 4
    assert y0 * 300 < 100 + 4 and y1 * 300 > 150 - 4
    assert x0 * 600 > 200 - 60 and y0 * 300 > 100 - 60


def test_extract_crops_matches_reference_semantics():
    img = np.arange(100 * 200 * 3, dtype=np.uint8).reshape(100, 200, 3)
    boxes = np.array([[0.1, 0.2, 0.5, 0.6]], dtype=np.float64)
    crops = extract_crops(img, boxes)
    assert len(crops) == 1
    assert crops[0].shape == (40, 80, 3)  # rows 20:60, cols 20:100
    assert extract_crops(img, np.zeros((0, 4))) == []


def test_softmax_and_ctc():
    vocab = "abc"
    blank = len(vocab)
    # T=6 path: a a blank b b c -> "abc"
    classes = [0, 0, blank, 1, 1, 2]
    logits = np.zeros((1, 6, 4), dtype=np.float32)
    logits[0, np.arange(6), classes] = 10.0
    out = ctc_best_path(logits, vocab)
    assert out[0][0] == "abc"
    p = softmax(logits, axis=-1)
    assert out[0][1] == pytest.approx(float(p.max(-1).min(1)[0]))
    # repeated char needs a blank between: a blank a -> "aa"
    classes = [0, blank, 0]
    logits = np.zeros((1, 3, 4), dtype=np.float32)
    logits[0, np.arange(3), classes] = 10.0
    assert ctc_best_path(logits, vocab)[0][0] == "aa"


def test_attention_decode():
    from onnxtr_spark.kernels.ctc import attention_decode

    vocab = "abc"
    eos = len(vocab)
    # "ab" then eos then garbage that must be truncated
    classes = [0, 1, eos, 2, 2]
    logits = np.zeros((1, 5, 4), dtype=np.float32)
    logits[0, np.arange(5), classes] = 9.0
    out = attention_decode(logits, vocab)
    assert out[0][0] == "ab"
    # no eos -> full sequence decoded
    classes = [2, 1, 0]
    logits = np.zeros((1, 3, 4), dtype=np.float32)
    logits[0, np.arange(3), classes] = 9.0
    assert attention_decode(logits, vocab)[0][0] == "cba"
    # min-reduction variant (SAR/MASTER semantics)
    assert attention_decode(logits, vocab, conf_reduction="min")[0][1] <= attention_decode(logits, vocab)[0][1]


def test_attention_decode_reference_conf_semantics():
    """Confidence mirrors the reference postprocessors exactly:
    ViTSTR/PARSeq mean over the first len(word) positions (0.0 when
    empty, vitstr.py:103-107); SAR/MASTER min over ALL positions
    including past <eos> (sar.py:91-93)."""
    import numpy as np
    from onnxtr_spark.kernels.ctc import attention_decode

    vocab = "abc"
    eos = len(vocab)
    # ViTSTR shape: C = len(vocab) + 2 (<eos>, <sos>); uneven peaks so
    # mean-prefix vs min-all genuinely differ
    classes = [0, 1, eos, 2]
    logits = np.zeros((1, 4, 5), dtype=np.float32)
    for t, c in enumerate(classes):
        logits[0, t, c] = 5.0 + t  # increasing peak: position 0 is the least confident
    p = softmax(logits, axis=-1).max(-1)[0]
    word, conf = attention_decode(logits, vocab, "mean", n_special=2)[0]
    assert word == "ab"
    assert conf == pytest.approx(float(p[:2].mean()))  # len(word)=2 prefix, NOT incl. eos
    # SAR: min over all 4 positions, even past <eos>
    word, conf = attention_decode(logits, vocab, "min", n_special=1)[0]
    assert word == "ab"
    assert conf == pytest.approx(float(p.min()))
    # empty word -> 0.0 under the mean family
    logits = np.zeros((1, 3, 5), dtype=np.float32)
    logits[0, :, eos] = 9.0
    assert attention_decode(logits, vocab, "mean", n_special=2)[0] == ("", 0.0)


def test_attention_engine_end_to_end_contract():
    """stub_vitstr emits positional logits whose decode equals the CTC
    stub's text on the same crop batch (the family swap changes the
    decoder, not the recognized text)."""
    import numpy as np
    from onnxtr_spark.engine import (
        ATTENTION_CONTRACTS,
        EngineConfig,
        get_recognition_engine,
    )
    from onnxtr_spark import imaging
    from onnxtr_spark.kernels.ctc import attention_decode, ctc_best_path
    from onnxtr_spark.kernels.geometry import resize_unpadded
    from onnxtr_spark.vocabs import DEFAULT_VOCAB

    def word_crop(w):
        if not w:
            return np.full((32, 16, 3), 255, dtype=np.uint8)
        page = imaging.render_page([[w]], jitter=False)
        ys, xs = np.nonzero(page[:, :, 0] != 255)
        # tight glyph crop, like the pipeline's detect-stage boxes —
        # resizing the full margined page would downscale away the
        # inter-glyph gap columns and merge repeated characters
        return page[ys.min() : ys.max() + 1, xs.min() : xs.max() + 1]

    words = ["hello", "spark", "a", ""]
    crops = [resize_unpadded(word_crop(w), 32, 128) for w in words]
    wmax = max(c.shape[1] for c in crops)
    batch = np.full((len(crops), 32, wmax, crops[0].shape[2]), 255, dtype=np.uint8)
    for i, c in enumerate(crops):
        batch[i, : c.shape[0], : c.shape[1]] = c

    ctc = get_recognition_engine(DEFAULT_VOCAB, EngineConfig(arch="stub_crnn"))
    ctc_words = [w for w, _ in ctc_best_path(ctc.run(batch), DEFAULT_VOCAB)]
    for family, contract in ATTENTION_CONTRACTS.items():
        eng = get_recognition_engine(DEFAULT_VOCAB, EngineConfig(arch=f"stub_{family}"))
        assert eng.decode_contract == contract
        logits = eng.run(batch)
        assert logits.shape[2] == len(DEFAULT_VOCAB) + contract.n_special
        att_words = [
            w for w, _ in attention_decode(logits, DEFAULT_VOCAB, contract.conf, contract.n_special)
        ]
        assert att_words == ctc_words == words
