"""The chunk reading-order kernel (``builder.reading_order``) against the
scalar per-page oracle (``tests/builder_oracle.py``), exactly.

Pages are fuzzed where the kernel can slip: coordinates on a coarse
grid (tied sort keys and tied xmin within a line), lines of more than 16
words, gaps of exactly ``PARAGRAPH_BREAK``, empty, one-box, odd- and
even-count pages, float32 and float64 boxes, and rotated pages tilted on
both sides of the 5° ``min_angle``. The rows of ``detect_recognize_pages``
must equal the per-page, tuple-per-word row builder over the straight,
rotated, straightened, B4 and attention configurations."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs, build_rotated_words_corpus_pdfs
from onnxtr_spark.kernels.builder import (
    PARAGRAPH_BREAK,
    reading_order,
    reading_order_blocks,
    word_order,
    word_order_blocks,
)
from onnxtr_spark.kernels.rotated import straight_fit, word_order_rotated
from onnxtr_spark.stages import ingest
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.stages.page_path import PagePath
from onnxtr_spark.stages.pipeline import media_pages
from onnxtr_spark.stages.recognize import RECOGNIZE_SCHEMA, RecognizeConfig
from onnxtr_spark.zoo import ocr_predictor
from tests import builder_oracle as oracle
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA

SIZES = (0, 1, 2, 3, 4, 7, 16, 17, 30, 61)
# flat and NaN boxes divide by a zero or NaN median, in the oracle too
pytestmark = pytest.mark.filterwarnings("ignore:.*encountered in divide:RuntimeWarning")


def _grid_page(rng: np.random.Generator, n: int) -> np.ndarray:
    """Boxes snapped to a coarse grid: sort keys, xmin and y centers tie."""
    g = int(rng.integers(3, 12))
    x0, y0 = rng.integers(0, g, n) / g, rng.integers(0, g, n) / g
    w, h = rng.integers(1, 3, n) / g, rng.integers(1, 3, n) / (2 * g)
    return np.stack([x0, y0, x0 + w, y0 + h], axis=1)


def _long_lines(rng: np.random.Generator, n: int, gap: float = PARAGRAPH_BREAK) -> np.ndarray:
    """A few lines of many narrow words, some gaps exactly ``gap`` wide
    and some xmin shared by two words."""
    n_lines = int(rng.integers(1, 4))
    boxes, x = [], [0.0] * n_lines
    for i in range(n):
        line = i % n_lines
        w = float(rng.choice([0.01, 0.015, 0.02]))
        y = 0.1 * line + rng.normal(0, 0.004)
        boxes.append([x[line], y, x[line] + w, y + 0.03])
        x[line] += w + float(rng.choice([0.0, 0.005, gap, -w]))
    return np.array(boxes)


def _straddle(rng: np.random.Generator, n: int) -> np.ndarray:
    """One line whose y centers sit 0, ±1/4 or ±1/2 of the median height
    off a base: the scan's break test lands on its threshold, where the
    running sum's dtype and order decide."""
    h = rng.integers(1, 6) / 40
    y = rng.integers(1, 30) / 37 + rng.choice([0, h / 2, -h / 2, h / 4], n)
    x0 = np.arange(n) * 0.03
    return np.stack([x0, y - h / 2, x0 + 0.02, y + h / 2], axis=1)


def _degenerate(rng: np.random.Generator, n: int) -> np.ndarray:
    """Flat boxes (a zero median height gives inf and NaN sort keys),
    some on the top edge, and now and then a NaN coordinate."""
    boxes = _grid_page(rng, n)
    flat = rng.random(n) < 0.7
    boxes[flat, 3] = boxes[flat, 1] = np.where(rng.random(flat.sum()) < 0.3, 0.0, boxes[flat, 1])
    if n and rng.random() < 0.2:
        boxes[rng.integers(0, n), rng.integers(0, 4)] = np.nan
    return boxes


def _random_page(rng: np.random.Generator, n: int) -> np.ndarray:
    x0, y0 = rng.random(n) * 0.8, rng.random(n) * 0.8
    return np.stack([x0, y0, x0 + 0.01 + rng.random(n) * 0.15, y0 + 0.01 + rng.random(n) * 0.05], axis=1)


def _page(rng: np.random.Generator, dtype, gap: float) -> np.ndarray:
    n = int(rng.choice(SIZES))
    kind = int(rng.integers(0, 5))
    if kind == 0:
        boxes = _long_lines(rng, n, gap)
    else:
        boxes = (_grid_page, _straddle, _degenerate, _random_page)[kind - 1](rng, n)
    return boxes.reshape(n, 4).astype(dtype)


def _chunks(seed: int, n_chunks: int, gap: float = PARAGRAPH_BREAK):
    rng = np.random.default_rng(seed)
    for _ in range(n_chunks):
        dtype = (np.float32, np.float64)[int(rng.integers(0, 2))]
        yield [_page(rng, dtype, gap) for _ in range(int(rng.integers(1, 10)))]


def _per_page(pages, *arrays):
    """Split chunk-aligned arrays back into per-page tuples."""
    cuts = np.cumsum([len(p) for p in pages])[:-1]
    return list(zip(*(np.split(a, cuts) for a in arrays)))


def _assert_pages_equal(got, want) -> None:
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            assert a.dtype == b.dtype
            np.testing.assert_array_equal(a, b)


# 0.035 rounds up to float32, 0.03 down: the gap test must be the
# scalar one (float64) whatever the boxes' dtype
@pytest.mark.parametrize("paragraph_break", [PARAGRAPH_BREAK, 0.03])
def test_chunk_kernel_matches_per_page_oracle(paragraph_break):
    for pages in _chunks(1301, 300, paragraph_break):
        boxes = np.concatenate(pages)
        got = _per_page(pages, *reading_order(boxes, [len(p) for p in pages], paragraph_break))
        want = [
            oracle.word_order(p, paragraph_break) if len(p) else (p[:, 0].astype(np.int64),) * 2
            for p in pages
        ]
        _assert_pages_equal(got, want)


def test_chunk_kernel_with_blocks_matches_per_page_oracle():
    for pages in _chunks(1302, 120):
        boxes = np.concatenate(pages)
        got = _per_page(pages, *reading_order_blocks(boxes, [len(p) for p in pages]))
        want = [oracle.word_order_blocks(p) if len(p) else (p[:, 0].astype(np.int64),) * 3 for p in pages]
        _assert_pages_equal(got, want)


def _tilted(rng: np.random.Generator, degrees: float, n: int) -> np.ndarray:
    """A page's (n, 4, 2) word quads, on grid-ish lines, turned by one angle."""
    theta = math.radians(degrees)
    rot = np.array([[math.cos(theta), -math.sin(theta)], [math.sin(theta), math.cos(theta)]])
    straight = _grid_page(rng, n) * 0.6 + 0.2 if rng.random() < 0.5 else _long_lines(rng, n) * 0.5 + 0.2
    x0, y0, x1, y1 = straight.reshape(n, 4).T
    quads = np.stack([np.stack(c, axis=1) for c in ((x0, y0), (x1, y0), (x1, y1), (x0, y1))], axis=1)
    return (quads - 0.5) @ rot.T + 0.5


def test_rotated_pages_match_per_page_oracle():
    """Angles on both sides of 5°: under it the page is not straightened."""
    rng = np.random.default_rng(1303)
    for _ in range(150):
        pages = []
        for _ in range(int(rng.integers(1, 8))):
            n = int(rng.choice(SIZES[1:]))
            degrees = float(rng.choice([-1, 1]) * rng.choice([rng.uniform(0, 4.9), rng.uniform(5.1, 15)]))
            pages.append(_tilted(rng, degrees, n))
        fits = np.concatenate([straight_fit(p) for p in pages])
        got = _per_page(pages, *reading_order(fits, [len(p) for p in pages]))
        _assert_pages_equal(got, [oracle.word_order_rotated(p) for p in pages])
        _assert_pages_equal([word_order_rotated(pages[0])], [oracle.word_order_rotated(pages[0])])


def test_one_page_names_match_oracle():
    for pages in _chunks(1304, 60):
        for p in pages:
            if len(p):
                _assert_pages_equal([word_order(p)], [oracle.word_order(p)])
                _assert_pages_equal([word_order_blocks(p)], [oracle.word_order_blocks(p)])


def test_chunk_kernel_accepts_empty_chunks():
    for counts in ([], [0], [0, 0]):
        rank, line_id = reading_order(np.zeros((0, 4)), counts)
        assert rank.shape == line_id.shape == (0,)


class _Capture:
    """Stands in for the pages DataFrame: returns the fused stage's
    ``mapInArrow`` function so it runs in this process."""

    def mapInArrow(self, fn, schema):
        return fn


def _fused_rows(pdf: pd.DataFrame, det_cfg, reco_cfg) -> pa.Table:
    run = detect_recognize_pages(_Capture(), det_cfg, reco_cfg)
    pages = pa.Table.from_pandas(pdf, preserve_index=False)
    return pa.Table.from_batches(list(run(iter(pages.to_batches(max_chunksize=64)))))


def _pages(spark, docs_pdf, media_pdf) -> pd.DataFrame:
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    pdf = media_pages(docs, media).toPandas()
    return pdf.sort_values("media_ref", ignore_index=True)


@pytest.fixture(scope="module")
def corpora(spark):
    texts = [t for t in FIXTURE_TEXTS if t[0] != "doc-0003"]  # wider than a skewed page
    documents = spark.createDataFrame(texts, "doc_id string, text string")
    skewed = media_pages(
        ingest.docs_from_documents(documents), ingest.media_from_documents(documents, skew_pages=True)
    ).toPandas().sort_values("media_ref", ignore_index=True)
    return {
        "straight": _pages(spark, *build_corpus_pdfs(FIXTURE_TEXTS)),
        "rotated": _pages(spark, *build_rotated_words_corpus_pdfs(FIXTURE_TEXTS)),
        "skewed": skewed,
    }


CASES = {
    "straight": ("straight", DetectConfig(), RecognizeConfig()),
    "blocks": ("straight", DetectConfig(), RecognizeConfig(resolve_blocks=True)),
    "attention": ("straight", DetectConfig(), ocr_predictor(reco_arch="vitstr_small").reco_cfg),
    "rotated": ("rotated", DetectConfig(assume_straight_pages=False), RecognizeConfig()),
    "straightened": ("skewed", DetectConfig(straighten_pages=True), RecognizeConfig()),
}


@pytest.mark.parametrize("case", list(CASES))
def test_fused_rows_equal_per_page_oracle(corpora, monkeypatch, case):
    """Every OUT_COLS column and its values, in the declared Arrow types;
    the oracle's rows are cast to those types."""
    out_schema = to_arrow_schema(StructType.fromDDL(RECOGNIZE_SCHEMA))
    corpus, det_cfg, reco_cfg = CASES[case]
    pdf = corpora[corpus]
    got = _fused_rows(pdf, det_cfg, reco_cfg)
    monkeypatch.setattr(
        PagePath,
        "rows",
        lambda path, pages, flat, keys: pa.RecordBatch.from_pandas(
            oracle.page_rows(path, pages, flat, keys), schema=out_schema, preserve_index=False
        ),
    )
    want = _fused_rows(pdf, det_cfg, reco_cfg)
    assert len(got) > 100
    assert got.schema == out_schema
    pd.testing.assert_frame_equal(got.to_pandas(), want.to_pandas(), check_exact=True)


def test_rows_of_a_chunk_without_words_is_an_empty_typed_batch(spark):
    keys = pa.RecordBatch.from_pydict(
        {"doc_id": ["d"], "offset": pa.array([1], pa.int32()), "media_ref": ["m-d-0"]}
    )
    page = {"key": 0, "boxes": np.zeros((0, 5), np.float32), "polys": None, "start": 0, "n_splits": 0}
    out = PagePath(reco_cfg=RecognizeConfig()).rows([page], [], keys)
    assert out.num_rows == 0
    assert out.schema == to_arrow_schema(StructType.fromDDL(RECOGNIZE_SCHEMA))
