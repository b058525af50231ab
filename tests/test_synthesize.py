"""S9 synthesis sink + G3 crop rectification tests."""

import numpy as np
import pandas as pd

from onnxtr_spark import imaging
from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs
from onnxtr_spark.imaging import CHAR_BASE
from onnxtr_spark.kernels.rotated import rectify_crops, rectify_loc_preds
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.stages.pipeline import extract_spans, media_pages
from onnxtr_spark.stages.synthesize import synthesize_pages
from onnxtr_spark.vocabs import DEFAULT_VOCAB
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA, golden_flat


def columns_to_classes(crop: np.ndarray, vocab: str = DEFAULT_VOCAB) -> np.ndarray:
    """Classify each crop column as a vocab index or blank (= len(vocab)).

    The stub recognition "model": the darkest pixel per column recovers
    the glyph encoding; white/gap/pad columns map to the blank class.
    Returns an int array of length crop_width.
    """
    blank = len(vocab)
    if crop.size == 0:
        return np.zeros(0, dtype=np.int64)
    col_min = crop[:, :, 0].min(axis=0).astype(np.int64)
    classes = np.full(col_min.shape, blank, dtype=np.int64)
    is_char = (col_min >= CHAR_BASE) & (col_min < CHAR_BASE + len(vocab))
    classes[is_char] = col_min[is_char] - CHAR_BASE
    return classes


def test_rectify_crops_inverse_rotation():
    # a marked page rotated k times ccw must come back readable
    base = imaging.add_orientation_mark(imaging.render_page([["abc"]]))
    for k in range(4):
        stored = np.ascontiguousarray(np.rot90(base, k))
        pred = imaging.detect_orientation(stored)
        assert pred == k
        out = rectify_crops([stored], [pred])[0]
        assert np.array_equal(out, base)
    assert rectify_crops([], []) == []


def test_rectify_loc_preds_rolls_points():
    quad = np.array([[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]])
    out = rectify_loc_preds(quad, [1])
    assert np.array_equal(out[0], np.roll(quad[0], 1, axis=0))
    # enclosure (B7 export) is invariant under the roll
    assert np.allclose(out[0].min(0), quad[0].min(0))
    assert rectify_loc_preds(np.zeros((0, 4, 2)), []) is None


def test_synthesize_page_single_word_roundtrips():
    page = imaging.synthesize_page([("hello", 0.1, 0.2)], 200, 400)
    assert page.shape == (200, 400, 3)
    # the drawn glyphs decode back
    x = int(round(0.1 * 400))
    y = int(round(0.2 * 200))
    crop = page[y : y + imaging.CELL_H, x : x + imaging.word_width("hello")]
    classes = columns_to_classes(crop)
    from onnxtr_spark.vocabs import DEFAULT_VOCAB

    decoded = "".join(
        DEFAULT_VOCAB[c]
        for i, c in enumerate(classes)
        if c < len(DEFAULT_VOCAB) and (i == 0 or classes[i - 1] != c)
    )
    assert decoded == "hello"


def test_synthesize_ocr_fixpoint(spark):
    """The reference's synthesize draws predictions back onto a page;
    ours must produce pages that re-OCR to the SAME span sequence."""
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS)
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    pages = media_pages(docs, media)
    words = detect_recognize_pages(pages)
    synth = synthesize_pages(words, media)
    got = (
        extract_spans(docs, synth)
        .toPandas()
        .sort_values(["doc_id", "offset"])
        .reset_index(drop=True)
    )
    exp = golden_flat().sort_values(["doc_id", "offset"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[exp.columns].astype(str), exp.astype(str))
