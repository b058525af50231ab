"""P2-P4 float preprocess path + model registry (EngineConfig) tests.

The float path must reproduce the uint8 fast path through the real
P1-P4 chain (reference models/preprocessor/base.py:61-113 semantics),
and a different model must be swappable via config only
(models/factory/hub.py analog).
"""

import numpy as np
import pytest

from onnxtr_spark import engine as eng
from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs
from onnxtr_spark.stages.detect import DetectConfig, detect_pages
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.stages.recognize import RecognizeConfig
from onnxtr_spark.stages.pipeline import media_pages
from tests import preprocess_oracle as pp
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA


def test_normalize_exact_values():
    # the reference preprocessor test asserts the exact normalized value
    # (tests/common/test_models_preprocessor.py:7-39)
    x = np.full((4, 4, 3), 128, dtype=np.uint8)
    out = pp.normalize(pp.cast_scale(x), mean=(0.5, 0.5, 0.5), std=(1.0, 1.0, 1.0))
    assert out.dtype == np.float32
    assert np.all(out == np.float32(128 / 255) - np.float32(0.5))
    with pytest.raises(TypeError):
        pp.normalize(x)  # uint8 must be cast first


@pytest.fixture(scope="module")
def corpus(spark):
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS)
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    return docs, media


def test_float_path_matches_uint8_path(corpus):
    """A float-contract model (real-CNN input shape) behind the REAL
    P1-P4 preprocess produces the same boxes as the folded uint8 path."""
    docs, media = corpus
    pages = media_pages(docs, media)
    base = detect_pages(pages).select("media_ref", "boxes").toPandas()
    float_cfg = DetectConfig(
        engine=eng.EngineConfig(arch="stub_fast_float", input_contract="float_bchw")
    )
    flt = detect_pages(pages, float_cfg).select("media_ref", "boxes").toPandas()
    b = base.sort_values("media_ref").reset_index(drop=True)
    f = flt.sort_values("media_ref").reset_index(drop=True)
    assert list(b.media_ref) == list(f.media_ref)
    for bb, fb in zip(b.boxes, f.boxes):
        bb, fb = np.asarray(list(bb)), np.asarray(list(fb))
        assert bb.shape == fb.shape
        # geometry bit-equal; scores within float32 roundtrip noise
        assert np.array_equal(bb[:, :4], fb[:, :4])
        assert np.allclose(bb[:, 4], fb[:, 4], atol=1e-5)


def _zero_detector(cfg):
    class Zero:
        def run(self, batch):
            return np.zeros(batch.shape[:3], dtype=np.float32)

    return Zero()


# module-level registration: executors resolve custom archs by importing
# factory_module (EngineConfig), which runs this line there too
eng.register_model("stub_zero", _zero_detector)


def test_registry_swaps_model_via_config_only(corpus):
    """#10: a second model drops in through DetectConfig.engine alone."""
    docs, media = corpus
    pages = media_pages(docs, media)
    cfg = eng.EngineConfig(arch="stub_zero", factory_module="tests.test_preprocess_registry")
    out = detect_pages(pages, DetectConfig(engine=cfg)).toPandas()
    assert all(len(b) == 0 for b in out.boxes)
    # unknown arch fails loudly with the onnxruntime-absent explanation
    with pytest.raises(NotImplementedError, match="not registered"):
        eng.get_detection_engine(eng.EngineConfig(arch="nope", model_path="/m.onnx"))


FLOAT_DET = DetectConfig(
    engine=eng.EngineConfig(arch="stub_fast_float", input_contract="float_bchw")
)
FLOAT_RECO = RecognizeConfig(
    engine=eng.EngineConfig(arch="stub_crnn_float", input_contract="float_bchw")
)


def _fused_rows(pages, det_cfg=DetectConfig(), reco_cfg=RecognizeConfig()):
    pdf = detect_recognize_pages(pages, det_cfg, reco_cfg).toPandas()
    return pdf.sort_values(["media_ref", "rank"]).reset_index(drop=True)


@pytest.mark.parametrize("straight", [True, False], ids=["straight", "rotated"])
def test_fused_float_contract_matches_uint8(corpus, straight):
    """Round-3 verdict item #2: a float-contract engine pair (real-CNN
    input shape) runs INSIDE the fused stage — P1-P4 preprocess +
    forward + prob-map D1-D6 — and reproduces the folded uint8 path's
    spans exactly: same text, reading order, and box geometry
    (bit-equal); scores within float32-map roundtrip noise."""
    docs, media = corpus
    pages = media_pages(docs, media)
    base = _fused_rows(
        pages, DetectConfig(assume_straight_pages=straight), RecognizeConfig()
    )
    flt = _fused_rows(
        pages,
        DetectConfig(
            assume_straight_pages=straight,
            engine=eng.EngineConfig(arch="stub_fast_float", input_contract="float_bchw"),
        ),
        FLOAT_RECO,
    )
    assert len(base) > 0 and len(base) == len(flt)
    for col in ["doc_id", "media_ref", "rank", "line_id", "block_id", "text"]:
        assert list(base[col]) == list(flt[col]), col
    for col in ["xmin", "ymin", "xmax", "ymax"]:
        assert np.array_equal(base[col].to_numpy(), flt[col].to_numpy()), col
    assert np.allclose(base["objectness"], flt["objectness"], atol=1e-5)
    assert np.allclose(base["conf"], flt["conf"], atol=1e-5)


def test_fused_rejects_unknown_contract(corpus):
    docs, media = corpus
    with pytest.raises(ValueError, match="input_contract"):
        detect_recognize_pages(
            media_pages(docs, media),
            det_cfg=DetectConfig(engine=eng.EngineConfig(input_contract="int4_weird")),
        )
