"""One page layer sequence: the standalone detect and recognize stages
are cuts of the fused stage's layers, so chaining them reproduces the
fused rows exactly, and no stage keeps a parallel copy of a layer."""

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest

from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs
from onnxtr_spark.engine import EngineConfig
from onnxtr_spark.stages import ingest
from onnxtr_spark.stages.detect import DetectConfig, detect_pages
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.stages.pipeline import media_pages
from onnxtr_spark.stages.recognize import RECOGNIZE_SCHEMA, RecognizeConfig, recognize_pages
from onnxtr_spark.zoo import ocr_predictor
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA

RECOGNIZE_COLS = [c.split()[0] for c in RECOGNIZE_SCHEMA.split(", ")]
FLOAT_DET = EngineConfig(arch="stub_fast_float", input_contract="float_bchw")
FLOAT_RECO = EngineConfig(arch="stub_crnn_float", input_contract="float_bchw")


@pytest.fixture(scope="module")
def pages(spark):
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS)
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    return media_pages(docs, media).cache()


@pytest.fixture(scope="module")
def skewed_pages(spark):
    # doc-0003's 54-letter word is wider than a rendered page
    texts = [t for t in FIXTURE_TEXTS if t[0] != "doc-0003"]
    documents = spark.createDataFrame(texts, "doc_id string, text string")
    docs = ingest.docs_from_documents(documents)
    media = ingest.media_from_documents(documents, skew_pages=True)
    return media_pages(docs, media).cache()


def _sorted(df) -> pd.DataFrame:
    pdf = df.toPandas()[RECOGNIZE_COLS]
    return pdf.sort_values(["media_ref", "word_id"]).reset_index(drop=True)


CASES = {
    "default": (DetectConfig(), RecognizeConfig()),
    "asym_pad": (DetectConfig(symmetric_pad=False), RecognizeConfig()),
    "stretch": (DetectConfig(preserve_aspect_ratio=False), RecognizeConfig()),
    "float_det_float_reco": (DetectConfig(engine=FLOAT_DET), RecognizeConfig(engine=FLOAT_RECO)),
    "resolve_blocks": (DetectConfig(), RecognizeConfig(resolve_blocks=True)),
    # the reference arch name resolves to the attention (C2) engine
    "attention": (DetectConfig(), ocr_predictor(reco_arch="vitstr_small").reco_cfg),
}


@pytest.mark.parametrize("case", list(CASES))
def test_chained_stages_equal_fused(pages, case):
    """Every RECOGNIZE_SCHEMA column, exactly: text, rank, line and
    block ids, geometry, objectness and confidence."""
    det_cfg, reco_cfg = CASES[case]
    fused = _sorted(detect_recognize_pages(pages, det_cfg, reco_cfg))
    chained = _sorted(recognize_pages(detect_pages(pages, det_cfg), reco_cfg))
    assert len(fused) == 136
    pd.testing.assert_frame_equal(chained, fused, check_exact=True)


def test_detect_pages_straightens(skewed_pages):
    """straighten_pages runs in the standalone stage: its boxes are the
    fused stage's, and the page it emits is the straightened one, so
    recognition over it gives the fused rows."""
    cfg = DetectConfig(straighten_pages=True)
    fused = _sorted(detect_recognize_pages(skewed_pages, cfg))
    detected = detect_pages(skewed_pages, cfg)
    det = detected.select("media_ref", "boxes").toPandas()
    for media_ref, boxes in zip(det.media_ref, det.boxes):
        want = fused[fused.media_ref == media_ref][["xmin", "ymin", "xmax", "ymax", "objectness"]]
        got = np.array([list(b) for b in boxes]).reshape(-1, 5)
        assert np.array_equal(got, want.to_numpy())
    pd.testing.assert_frame_equal(_sorted(recognize_pages(detected)), fused, check_exact=True)


def test_detect_pages_rejects_rotated_path(pages):
    with pytest.raises(NotImplementedError, match="straight"):
        detect_pages(pages, DetectConfig(assume_straight_pages=False))


# each page-path layer entry point has at most one use site under
# stages/ — a second one is a parallel copy of the layer
ONE_USE = {
    "decode_image", "postprocess_pixel_maps", "postprocess_prob_maps", "remove_padding",
    "extract_crops", "split_crops", "remap_preds", "ctc_best_path", "attention_decode",
    "word_order", "word_order_blocks", "word_order_rotated", "get_recognition_engine",
}


def test_one_use_site_per_layer():
    """AST scan of onnxtr_spark/stages/: calls and other references
    (an alias bound once and called elsewhere counts too); imports do
    not count."""
    stages = pathlib.Path(__file__).resolve().parents[1] / "onnxtr_spark" / "stages"
    uses: dict[str, list[str]] = {}
    for path in sorted(stages.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            else:
                continue
            if name in ONE_USE:
                uses.setdefault(name, []).append(f"{path.name}:{node.lineno}")
    assert {n: u for n, u in uses.items() if len(u) > 1} == {}
    assert set(uses) == ONE_USE  # every layer is still used
