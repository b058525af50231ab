"""Zoo predictor factory (reference models/zoo.py ocr_predictor flag
surface) assembled as a Spark pipeline object."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from onnxtr_spark import engine as eng
from onnxtr_spark.corpus import FIXTURE_TEXTS, build_corpus_pdfs
from onnxtr_spark.engine import EngineConfig
from onnxtr_spark.zoo import ocr_predictor
from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA, golden_flat


@pytest.fixture(scope="module")
def corpus(spark):
    docs_pdf, media_pdf = build_corpus_pdfs(FIXTURE_TEXTS)
    return (
        spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA),
        spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA),
    )


def test_flag_mapping():
    p = ocr_predictor(
        "stub_fast", "stub_crnn",
        assume_straight_pages=False, straighten_pages=True,
        disable_crop_orientation=True, det_bs=4, reco_bs=64,
    )
    assert p.det_cfg.assume_straight_pages is False
    assert p.det_cfg.straighten_pages is True
    assert p.det_cfg.disable_crop_orientation is True
    assert p.reco_cfg.batch_size == 64
    assert p.det_cfg.engine.arch == "stub_fast" and p.reco_cfg.engine.arch == "stub_crnn"
    # engine-config override wins wholesale (reference passes engine_cfg
    # into the predictors the same way)
    ec = EngineConfig(arch="stub_fast", intra_op_num_threads=2)
    assert ocr_predictor(det_engine_cfg=ec).det_cfg.engine is ec
    # resize-contract flags thread through to DetectConfig on both the
    # straight and rotated paths (polygon unpad wired,
    # rotated_post.remove_padding_rotated)
    p = ocr_predictor(preserve_aspect_ratio=False)
    assert p.det_cfg.preserve_aspect_ratio is False
    p = ocr_predictor(symmetric_pad=False)
    assert p.det_cfg.symmetric_pad is False and p.det_cfg.preserve_aspect_ratio is True
    p = ocr_predictor(assume_straight_pages=False, symmetric_pad=False)
    assert p.det_cfg.assume_straight_pages is False and p.det_cfg.symmetric_pad is False
    with pytest.raises(TypeError):
        ocr_predictor(det_arch=123)


def test_hub_model_arch_carries_vocab(tmp_path):
    from onnxtr_spark.hub import from_hub, save_model_and_config

    src = tmp_path / "m.onnx"
    src.write_bytes(b"w")
    save_model_and_config(src, tmp_path / "s" / "me" / "r", arch="stub_crnn",
                          task="recognition", vocab="xyz")
    hub_model = from_hub("me/r", base=str(tmp_path / "s"))
    p = ocr_predictor(reco_arch=hub_model)
    assert p.reco_cfg.vocab == "xyz"
    assert p.reco_cfg.engine.arch == "stub_crnn"


def test_default_predictor_matches_extract_spans(spark, corpus):
    docs, media = corpus
    out = ocr_predictor()(docs, media).toPandas()
    want = golden_flat()
    got = out.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    want = want.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (
        got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str).values.tolist()
        == want.astype(str).values.tolist()
    )


def test_attention_reco_arch_matches_ctc_spans(spark, corpus):
    """reco_arch='stub_vitstr' routes the fused stage through the C2
    attention decoder (engine DecodeContract dispatch) and yields the
    same span relation as the default CTC family — swapping the
    recognition family is a pure config change end-to-end."""
    docs, media = corpus
    want = ocr_predictor()(docs, media).toPandas()
    # viptr: CTC contract identical to CRNN (viptr.py:33-88), alias arch
    from onnxtr_spark.engine import CTC_CONTRACT, EngineConfig as _EC, get_recognition_engine

    assert get_recognition_engine(cfg=_EC(arch="stub_viptr")).decode_contract == CTC_CONTRACT
    for family in ("stub_vitstr", "stub_sar"):
        out = ocr_predictor(reco_arch=family)(docs, media).toPandas()
        got = out.sort_values(["doc_id", "offset"]).reset_index(drop=True)
        ref = want.sort_values(["doc_id", "offset"]).reset_index(drop=True)
        assert (
            got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str).values.tolist()
            == ref[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str).values.tolist()
        )


def test_per_arch_detection_defaults():
    """The reference's default_cfgs thresholds follow the arch: DBNet
    binarizes at 0.3 (differentiable_binarization.py:59-60), FAST and
    LinkNet at 0.1 (fast.py:57-58, linknet.py:59-60) — an arch string
    must carry its own thresholds, not the global FAST ones."""
    assert ocr_predictor(det_arch="db_resnet50").det_cfg.bin_thresh == 0.3
    assert ocr_predictor(det_arch="db_mobilenet_v3_large").det_cfg.bin_thresh == 0.3
    assert ocr_predictor(det_arch="fast_base").det_cfg.bin_thresh == 0.1
    assert ocr_predictor(det_arch="linknet_resnet18").det_cfg.bin_thresh == 0.1
    assert ocr_predictor().det_cfg.bin_thresh == 0.1  # default arch = stub FAST
    for p in (ocr_predictor(det_arch="db_resnet50"), ocr_predictor(det_arch="fast_base")):
        assert p.det_cfg.box_thresh == 0.1
        assert p.det_cfg.unclip_ratio == 1.5


def test_db_arch_spans_match_fast(spark, corpus):
    """End-to-end with the DBNet-shaped stub: near-binary prob maps +
    the 0.3 bin threshold through the float det path reproduce the
    default FAST-stub span relation."""
    docs, media = corpus
    p = ocr_predictor(det_arch="stub_db_float")
    assert p.det_cfg.bin_thresh == 0.3
    assert p.det_cfg.engine.input_contract == "float_bhwc"
    out = p(docs, media).toPandas()
    want = golden_flat()
    got = out.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    want = want.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    assert (
        got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str).values.tolist()
        == want.astype(str).values.tolist()
    )


@pytest.mark.parametrize(
    "preserve,sym", [(True, True), (True, False), (False, True), (False, False)]
)
def test_resize_contract_combos_span_equal(spark, corpus, preserve, sym):
    """All four Resize contracts (reference transforms/base.py:41-86)
    produce the same span relation end-to-end on the straight path:
    (True,True) content-exact unpadded map, (True,False) asymmetric pad
    + asymmetric remove_padding, (False,_) anisotropic stretch.

    The aspect-preserving combos are exact on any page. The stretch
    combos inherit the reference's unclip-in-map-pixels semantics
    (postprocessor/base.py:42-62 runs BEFORE coords normalize), so a
    page upscaled y-ward by the stretch inflates the unclip distance in
    page terms — on a 1-line page (y-scale ~3.5×) the expansion crosses
    the inter-word gap exactly as the reference would. Equality is
    therefore asserted on full-height pages (y-scale ≤ ~1.5×), where
    the contract is bit-stable."""
    import pandas as pd

    from onnxtr_spark.corpus import build_corpus_pdfs, expected_spans

    if preserve:
        docs, media = corpus
        want = golden_flat()
    else:
        full = [
            ("full-0001", " ".join(f"w{i:03d}" for i in range(60))),  # 2 full pages
            ("full-0002", "alpha beta gamma delta epsilon " * 6),  # 1 full page
        ]
        docs_pdf, media_pdf = build_corpus_pdfs(full)
        docs = spark.createDataFrame(docs_pdf)
        media = spark.createDataFrame(media_pdf)
        want = pd.DataFrame(
            [{"doc_id": did, **s} for did, txt in full for s in expected_spans(did, txt)]
        )[["doc_id", "offset", "kind", "text", "media_ref"]]
    out = ocr_predictor(preserve_aspect_ratio=preserve, symmetric_pad=sym)(
        docs, media
    ).toPandas()
    got = out.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    want = want.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    assert (
        got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str).values.tolist()
        == want.astype(str).values.tolist()
    )


def test_detect_language_and_orientation_columns(spark, corpus):
    docs, media = corpus
    p = ocr_predictor(detect_language=True, detect_orientation=True)
    out = p(docs, media)
    assert {"pred_lang", "orientation_class", "orientation_deg"} <= set(out.columns)
    rows = out.where(F.col("media_ref") != "").select(
        "doc_id", "pred_lang", "orientation_class", "orientation_deg"
    ).collect()
    assert rows
    # one language per doc, consistent across its spans
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, set()).add(r.pred_lang)
        assert r.orientation_class == 0 and r.orientation_deg == 0  # straight corpus
    assert all(len(v) == 1 for v in per_doc.values())


def test_detect_language_page_granularity(spark, corpus):
    """lang_granularity='page' attaches one language per PAGE (the
    reference's granularity, predictor.py:138-140): consistent within a
    media_ref, and the doc-header span (offset 0, no page) falls back
    to 'unknown'. Doc-level default is unchanged (test above)."""
    docs, media = corpus
    p = ocr_predictor(detect_language=True, lang_granularity="page")
    out = p(docs, media).select("media_ref", "offset", "pred_lang").collect()
    per_page = {}
    for r in out:
        if r.media_ref:
            per_page.setdefault(r.media_ref, set()).add(r.pred_lang)
        else:
            assert r.offset == 0 and r.pred_lang == "unknown"
    assert per_page
    assert all(len(v) == 1 for v in per_page.values())
    with pytest.raises(ValueError, match="lang_granularity"):
        ocr_predictor(detect_language=True, lang_granularity="word")(docs, media)


def test_detect_language_empty_doc_unknown(spark, corpus):
    """A doc whose pipeline produced no word spans gets pred_lang
    'unknown', matching the standalone lang_id contract (round-3
    advice): blank pages recognize zero words but the header span
    survives assembly."""
    import pandas as pd

    from onnxtr_spark.corpus import build_corpus_pdfs
    from tests.test_pipeline_e2e import DOCS_SCHEMA, MEDIA_SCHEMA

    docs_pdf, media_pdf = build_corpus_pdfs([("d0", "")])  # one empty doc
    docs = spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA)
    media = spark.createDataFrame(media_pdf, schema=MEDIA_SCHEMA)
    out = ocr_predictor(detect_language=True)(docs, media).collect()
    assert out and all(r.pred_lang == "unknown" for r in out)


def test_standalone_predictor_factories(spark, corpus):
    """The reference's stage-level factories (detection/zoo.py:60-101,
    recognition/zoo.py:61-96, classification/zoo.py:52-124) as Spark
    transformers: detect alone, then recognize over its output, equals
    the fused pipeline's word relation; orientation factories classify
    any (media_ref, png) relation."""
    import onnxtr_spark as ox
    from onnxtr_spark.stages.pipeline import media_pages

    docs, media = corpus
    pages = media_pages(docs, media)

    det = ox.detection_predictor()
    detected = det(pages)
    reco = ox.recognition_predictor()
    words = reco(detected).toPandas()
    assert len(words) > 0

    # same words/texts as the fused pipeline's span relation
    fused = ocr_predictor()(docs, media).toPandas()
    fused_words = fused[fused.offset >= 1]
    assert sorted(zip(words.media_ref, words.text)) == sorted(
        zip(fused_words.media_ref, fused_words.text)
    )

    # per-arch thresholds + quantization flags thread through
    assert ox.detection_predictor(arch="db_resnet50").cfg.bin_thresh == 0.3
    assert ox.detection_predictor(load_in_8_bit=True).cfg.engine.load_in_8_bit
    assert ox.recognition_predictor(load_in_8_bit=True).cfg.engine.load_in_8_bit
    with pytest.raises(NotImplementedError):
        ox.detection_predictor(assume_straight_pages=False)

    # symmetric crop pad is decode-invariant (white padding both sides)
    sym_words = ox.recognition_predictor(symmetric_pad=True)(detected).toPandas()
    assert sorted(sym_words.text) == sorted(words.text)

    # orientation factories classify a (media_ref, png) relation
    orients = ox.crop_orientation_predictor()(pages).toPandas()
    assert set(orients.columns) == {"media_ref", "orientation_class", "orientation_deg"}
    assert (orients.orientation_class == 0).all()  # unrotated corpus
    assert ox.page_orientation_predictor().model_type == "page"


def test_reference_arch_names_run_end_to_end(spark, corpus):
    """The README's switch-over example is real: reference arch strings
    resolve to the matching stub family (db -> the float near-binary
    stub with bin 0.3, vitstr -> the attention engine) and the pipeline
    is span-equal to the default; a registered real factory under the
    exact name would win over the alias."""
    docs, media = corpus
    p = ocr_predictor("db_resnet50", "vitstr_small")
    assert p.det_cfg.engine.arch == "stub_db_float"
    assert p.det_cfg.bin_thresh == 0.3
    assert p.reco_cfg.engine.arch == "stub_vitstr"
    out = p(docs, media).toPandas()
    want = golden_flat()
    got = out.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    want = want.sort_values(["doc_id", "offset"]).reset_index(drop=True)
    assert (
        got[["doc_id", "offset", "kind", "text", "media_ref"]].astype(str).values.tolist()
        == want.astype(str).values.tolist()
    )
    # registry always wins over the alias
    from onnxtr_spark import engine as eng

    eng.register_model("db_resnet50", lambda cfg: object())
    try:
        assert ocr_predictor(det_arch="db_resnet50").det_cfg.engine.arch == "db_resnet50"
    finally:
        eng.MODEL_REGISTRY.pop("db_resnet50", None)


def test_clf_engine_cfg_and_load_in_8_bit_flow(spark, corpus):
    """clf_engine_cfg reaches DetectConfig.orient_engine (reference
    models/zoo.py:79) and load_in_8_bit stamps every resolved engine,
    explicit or arch-derived (models/zoo.py:76). The predictor with a
    stub clf cfg must still produce identical spans (the stub ignores
    the extra knob — this pins the PLUMBING, parity pins the output)."""
    clf = EngineConfig(arch="stub_mobilenet_orient", intra_op_num_threads=2)
    p = ocr_predictor("stub_fast", "stub_crnn", clf_engine_cfg=clf, load_in_8_bit=True)
    assert p.det_cfg.orient_engine is not None
    assert p.det_cfg.orient_engine.arch == "stub_mobilenet_orient"
    assert p.det_cfg.orient_engine.intra_op_num_threads == 2
    assert p.det_cfg.orient_engine.load_in_8_bit  # stamped onto clf too
    assert p.det_cfg.engine.load_in_8_bit and p.reco_cfg.engine.load_in_8_bit
    # default: no clf cfg -> registry default resolution (None sentinel)
    assert ocr_predictor().det_cfg.orient_engine is None
    # load_in_8_bit with NO clf cfg: the default orientation config is
    # materialized so the flag reaches the arch-derived classifier too
    # (reference predictor/base.py:64-69 passes it unconditionally)
    p8 = ocr_predictor("stub_fast", "stub_crnn", load_in_8_bit=True)
    assert p8.det_cfg.orient_engine is not None
    assert p8.det_cfg.orient_engine.arch == "stub_mobilenet_orient"
    assert p8.det_cfg.orient_engine.load_in_8_bit
    # end-to-end on the rotated path (the G3 classifier actually runs
    # with the explicit cfg): spans equal the default predictor's
    docs, media = corpus
    base = ocr_predictor("stub_fast", "stub_crnn", assume_straight_pages=False)
    with_clf = ocr_predictor(
        "stub_fast", "stub_crnn", assume_straight_pages=False,
        clf_engine_cfg=EngineConfig(arch="stub_mobilenet_orient"),
    )
    a = base(docs, media).orderBy("doc_id", "offset").toPandas()
    b = with_clf(docs, media).orderBy("doc_id", "offset").toPandas()
    assert a.equals(b)


class _ConstOrient:
    """Orientation stub that gives every image one class."""

    def __init__(self, k: int):
        self.k = k

    def run_one(self, img) -> int:
        return self.k

    def run(self, crops) -> np.ndarray:
        return np.full(len(crops), self.k, dtype=np.int64)


# module-level registration: executors resolve the arch by importing
# factory_module (EngineConfig), which runs this line there too. The
# 8-bit flag picks class 3, so a test can see that it reached the factory.
eng.register_model("stub_orient_const", lambda cfg: _ConstOrient(3 if cfg.load_in_8_bit else 2))
CONST_ORIENT = EngineConfig(arch="stub_orient_const", factory_module="tests.test_zoo")


def test_orientation_predictors_run_their_engine(spark, corpus):
    """The classifier that ``engine_cfg``, ``clf_engine_cfg`` and
    ``load_in_8_bit`` name is the one that classifies: the standalone
    crop/page predictors and ``detect_orientation=True`` report the
    stub's class, not the default classifier's 0 on this straight
    corpus."""
    import onnxtr_spark as ox
    from onnxtr_spark.stages.pipeline import media_pages

    docs, media = corpus
    pages = media_pages(docs, media)
    for factory in (ox.crop_orientation_predictor, ox.page_orientation_predictor):
        for load_in_8_bit, k, deg in ((False, 2, 180), (True, 3, 90)):
            got = factory(engine_cfg=CONST_ORIENT, load_in_8_bit=load_in_8_bit)(pages).toPandas()
            assert len(got) > 0
            assert (got.orientation_class == k).all() and (got.orientation_deg == deg).all()
    for load_in_8_bit, k in ((False, 2), (True, 3)):
        p = ocr_predictor(detect_orientation=True, clf_engine_cfg=CONST_ORIENT, load_in_8_bit=load_in_8_bit)
        got = p(docs, media).where(F.col("media_ref") != "").select("orientation_class").toPandas()
        assert len(got) > 0 and (got.orientation_class == k).all()
