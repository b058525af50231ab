"""Top-level predictor factory — the reference ``ocr_predictor`` zoo
entry (models/zoo.py:67-142) re-expressed for Spark.

A reference user writes ``model = ocr_predictor('fast_base',
'crnn_vgg16_bn', straighten_pages=True); model(pages)``. The Spark
twin keeps the flag surface and arch-or-model polymorphism but returns
a PIPELINE object whose ``__call__`` takes (docs, media) DataFrames and
returns the flat span relation — predictors here are declarative plans,
not stateful model holders (sessions resolve per executor worker
through the model registry).

Flag mapping (reference → this repo):

- ``det_arch`` / ``reco_arch``: arch string, ``EngineConfig``, or a
  ``hub.HubModel`` (the reference accepts a model object the same way).
- ``assume_straight_pages`` → DetectConfig.assume_straight_pages
  (rotated (N,4,2) path when False, G3 classifier on by default).
- ``straighten_pages`` → DetectConfig.straighten_pages (I5 90°-multiple
  rectify + G4 arbitrary-angle estimate→rotate→re-detect).
- ``disable_crop_orientation`` → same flag.
- ``det_bs``: accepted for parity and discarded (detection maps are
  per page, so each page runs its own forward); ``reco_bs`` →
  RecognizeConfig.batch_size, the recognition model batch.
- ``export_as_straight_boxes``: accepted for parity; the flat span
  schema always carries the B7 enclosing straight box columns, so True
  and False coincide here (the reference's False keeps polygons in its
  nested export — our nested export is span-typed).
- ``preserve_aspect_ratio`` / ``symmetric_pad`` →
  DetectConfig.preserve_aspect_ratio/symmetric_pad: all four Resize
  contracts (reference transforms/base.py:41-86) run end-to-end on the
  straight-page path — (True, True) as the content-exact unpadded map
  (P8 identity), (True, False) via asymmetric pad + the asymmetric
  remove_padding branch (_utils/base.py:12-62), (False, _) via
  anisotropic stretch (map-relative = page-relative). The rotated
  path applies the polygon-channel unpad branch
  (kernels/rotated_post.remove_padding_rotated).
- ``detect_language`` → language attached from the recognized text
  (Cavnar-Trenkle trigram model, functions/text.lang_id).
  ``lang_granularity="doc"`` (default) gives one label per document;
  ``"page"`` matches the reference, which attaches langdetect output
  per page (predictor.py:138-140).
- ``detect_orientation`` → per-PAGE orientation class attached from the
  I5 classifier (reference predictor.py:86-99 general_pages_orientations).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, replace

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onnxtr_spark.engine import EngineConfig
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.recognize import RecognizeConfig
from onnxtr_spark.vocabs import DEFAULT_VOCAB

__all__ = [
    "ocr_predictor",
    "OCRPredictorSpark",
    "page_orientations",
    "detection_predictor",
    "recognition_predictor",
    "crop_orientation_predictor",
    "page_orientation_predictor",
]


# Reference arch names → the stub that implements that family's
# contract, used ONLY when no real factory is registered under the
# exact name (a deployment's register_model('db_resnet50', ...) always
# wins). DBNet stubs must be the float near-binary one: the affine
# uint8 stub under DBNet's 0.3 bin threshold would silently lose
# glyphs (see engine.DbFloatDetectionEngine).
_REFERENCE_ARCH_STUBS = {
    **{a: ("stub_db_float", "float_bhwc") for a in
       ("db_resnet50", "db_resnet34", "db_mobilenet_v3_large")},
    **{a: ("stub_fast", "uint8_bhwc") for a in
       ("fast_tiny", "fast_small", "fast_base",
        "linknet_resnet18", "linknet_resnet34", "linknet_resnet50")},
    **{a: ("stub_crnn", "uint8_bhwc") for a in
       ("crnn_vgg16_bn", "crnn_mobilenet_v3_small", "crnn_mobilenet_v3_large")},
    "vitstr_small": ("stub_vitstr", "uint8_bhwc"),
    "vitstr_base": ("stub_vitstr", "uint8_bhwc"),
    "parseq": ("stub_parseq", "uint8_bhwc"),
    "sar_resnet31": ("stub_sar", "uint8_bhwc"),
    "master": ("stub_master", "uint8_bhwc"),
    "viptr_tiny": ("stub_viptr", "uint8_bhwc"),
}


def _engine_of(arch, default_arch: str) -> EngineConfig:
    """arch string | EngineConfig | HubModel → EngineConfig."""
    if arch is None:
        return EngineConfig(arch=default_arch)
    if isinstance(arch, EngineConfig):
        return arch
    if isinstance(arch, str):
        from onnxtr_spark.engine import MODEL_REGISTRY

        if arch not in MODEL_REGISTRY and arch in _REFERENCE_ARCH_STUBS:
            stub, contract = _REFERENCE_ARCH_STUBS[arch]
            return EngineConfig(arch=stub, input_contract=contract)
        # *_float stubs implement a real CNN's tensor contract; the
        # stage must run P1-P4 + a true forward for them instead of the
        # folded uint8 fast path
        if arch.endswith("_float"):
            return EngineConfig(arch=arch, input_contract="float_bhwc")
        return EngineConfig(arch=arch)
    engine = getattr(arch, "engine", None)  # hub.HubModel
    if isinstance(engine, EngineConfig):
        return engine
    raise TypeError(f"unsupported arch spec: {type(arch).__name__}")


ORIENT_DEGREES = (0, -90, 180, 90)  # class k -> page angle (reference
# classification predictor label order, models/classification/zoo.py)


def page_orientations(pages: DataFrame, engine: EngineConfig | None = None) -> DataFrame:
    """Per-page I5 orientation classification as a standalone stage:
    (media_ref, orientation_class, orientation_deg). One batched engine
    call per Arrow chunk (engine.OrientationEngine.run) on the
    classifier ``engine`` selects (the default stub when None). Runs on
    ``mapInArrow`` with no pandas in the worker (arrow_cols.py)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from onnxtr_spark import arrow_cols, imaging
        from onnxtr_spark.engine import get_orientation_engine

        orient = get_orientation_engine(engine)
        for batch in batches:
            if not batch.num_rows:
                continue
            ks = [int(k) for k in orient.run([imaging.decode_image(b) for b in batch.column("png").to_pylist()])]
            yield arrow_cols.batch({
                "media_ref": arrow_cols.typed(batch.column("media_ref"), pa.string()),
                "orientation_class": arrow_cols.int32(ks),
                "orientation_deg": arrow_cols.int32([ORIENT_DEGREES[k] for k in ks]),
            })

    return pages.mapInArrow(
        run, "media_ref string, orientation_class int, orientation_deg int"
    )


@dataclass(frozen=True)
class OCRPredictorSpark:
    """The assembled pipeline: ``predictor(docs, media)`` → flat spans
    (doc_id, offset, kind, text, media_ref [, pred_lang]
    [, orientation_class, orientation_deg])."""

    det_cfg: DetectConfig
    reco_cfg: RecognizeConfig
    detect_language: bool = False
    detect_orientation: bool = False
    # "doc" (default): one language per document over all recognized
    # text. "page": the reference's granularity — langdetect runs on
    # each page's text and the language column is per PAGE
    # (predictor.py:138-140 attaches language to every page dict).
    lang_granularity: str = "doc"

    def __call__(self, docs: DataFrame, media: DataFrame) -> DataFrame:
        from onnxtr_spark.stages.pipeline import extract_spans, media_pages

        if self.lang_granularity not in ("doc", "page"):
            raise ValueError(f"lang_granularity must be 'doc' or 'page', got {self.lang_granularity!r}")
        out = extract_spans(docs, media, det_cfg=self.det_cfg, reco_cfg=self.reco_cfg)
        if self.detect_language:
            from onnxtr_spark.functions.text import lang_id

            # recognized word spans (offset>=1) reassembled in reading
            # order, grouped at the requested granularity
            key = "doc_id" if self.lang_granularity == "doc" else "media_ref"
            text = (
                out.where(F.col("offset") >= 1)
                .groupBy(key)
                .agg(
                    F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list(F.struct("offset", "text"))),
                            lambda s: s["text"],
                        ),
                        " ",
                    ).alias("text")
                )
            )
            langs = lang_id(text.withColumnRenamed(key, "doc_id"), cast_id=False)
            # rows with no recognized text at this granularity (empty
            # docs; the doc-header span when per-page) are absent from
            # `text`, so the left join leaves NULL — coalesce to the
            # standalone lang_id contract's 'unknown'
            out = out.join(
                langs.withColumnRenamed("doc_id", key), key, "left"
            ).withColumn("pred_lang", F.coalesce("pred_lang", F.lit("unknown")))
        if self.detect_orientation:
            orients = page_orientations(media_pages(docs, media), self.det_cfg.orient_engine)
            out = out.join(orients, "media_ref", "left")
        return out


def ocr_predictor(
    det_arch=None,
    reco_arch=None,
    assume_straight_pages: bool = True,
    preserve_aspect_ratio: bool = True,
    symmetric_pad: bool = True,
    export_as_straight_boxes: bool = False,
    detect_orientation: bool = False,
    straighten_pages: bool = False,
    detect_language: bool = False,
    lang_granularity: str = "doc",
    disable_crop_orientation: bool = False,
    det_bs: int = 2,
    reco_bs: int = 256,
    load_in_8_bit: bool = False,
    det_engine_cfg: EngineConfig | None = None,
    reco_engine_cfg: EngineConfig | None = None,
    clf_engine_cfg: EngineConfig | None = None,
    vocab: str = DEFAULT_VOCAB,
) -> OCRPredictorSpark:
    """Build the end-to-end OCR pipeline from the reference's flag
    surface (models/zoo.py:67-142). See module docstring for the exact
    flag mapping; ``det_engine_cfg``/``reco_engine_cfg`` override the
    arch-derived engine configs wholesale (reference passes them into
    the predictors the same way); ``clf_engine_cfg`` does the same for
    the I5/G3 orientation classifier (models/zoo.py:79); and
    ``load_in_8_bit`` (models/zoo.py:76, e.g. …/crnn.py:162) stamps the
    quantization flag onto every resolved engine config, explicit or
    arch-derived — the registry factory then selects the 8-bit artifact
    (engine.py model_path_8_bit) or raises its loud gate."""
    _ = export_as_straight_boxes  # parity no-op: flat spans always carry B7 boxes
    _ = det_bs  # parity no-op: detection runs one forward per page
    det_engine = det_engine_cfg or _engine_of(det_arch, "stub_fast")
    reco_engine = reco_engine_cfg or _engine_of(reco_arch, "stub_crnn")
    clf_engine = clf_engine_cfg
    if load_in_8_bit:
        det_engine = replace(det_engine, load_in_8_bit=True)
        reco_engine = replace(reco_engine, load_in_8_bit=True)
        if clf_engine is None:
            # materialize the default orientation config so the flag
            # reaches the arch-derived classifier too (the reference
            # passes load_in_8_bit to the crop/page orientation
            # predictors unconditionally, predictor/base.py:64-69)
            clf_engine = EngineConfig(arch="stub_mobilenet_orient")
        clf_engine = replace(clf_engine, load_in_8_bit=True)
    if hasattr(reco_arch, "param"):
        vocab = reco_arch.param("vocab", vocab)  # hub models carry their vocab
    # per-arch postprocess thresholds (the reference's default_cfgs):
    # db_* binarizes at 0.3, fast_*/linknet_* at 0.1 — previously every
    # arch string silently ran the FAST thresholds
    from onnxtr_spark.stages.detect import det_thresholds_for

    bin_thresh, box_thresh, unclip_ratio = det_thresholds_for(det_engine.arch)
    det_cfg = DetectConfig(
        bin_thresh=bin_thresh,
        box_thresh=box_thresh,
        unclip_ratio=unclip_ratio,
        preserve_aspect_ratio=preserve_aspect_ratio,
        symmetric_pad=symmetric_pad,
        assume_straight_pages=assume_straight_pages,
        straighten_pages=straighten_pages,
        disable_crop_orientation=disable_crop_orientation,
        engine=det_engine,
        orient_engine=clf_engine,
    )
    reco_cfg = RecognizeConfig(batch_size=reco_bs, vocab=vocab, engine=reco_engine)
    return OCRPredictorSpark(
        det_cfg=det_cfg,
        reco_cfg=reco_cfg,
        detect_language=detect_language,
        detect_orientation=detect_orientation,
        lang_granularity=lang_granularity,
    )


# --- standalone stage factories -------------------------------------------
# The reference exposes the two pipeline halves and the orientation
# classifiers as their own factories (models/detection/zoo.py:60-101,
# models/recognition/zoo.py:61-96, models/classification/zoo.py:52-124);
# tests and scripts/evaluate.py drive them directly. The Spark twins
# return declarative DataFrame transformers over the same stages the
# fused pipeline composes.


@dataclass(frozen=True)
class DetectionPredictorSpark:
    """``predictor(pages)`` → (doc_id, offset, media_ref, png, h, w,
    boxes) — the standalone detection stage (stages/detect.py)."""

    cfg: DetectConfig

    def __call__(self, pages: DataFrame) -> DataFrame:
        from onnxtr_spark.stages.detect import detect_pages

        return detect_pages(pages, self.cfg)


def detection_predictor(
    arch=None,
    assume_straight_pages: bool = True,
    preserve_aspect_ratio: bool = True,
    symmetric_pad: bool = True,
    batch_size: int = 2,
    load_in_8_bit: bool = False,
    engine_cfg: EngineConfig | None = None,
) -> DetectionPredictorSpark:
    """The reference ``detection_predictor`` (models/detection/zoo.py:
    60-101): per-arch thresholds from the default_cfgs table, the full
    Resize contract surface, and the quantization flag. The standalone
    stage is straight-boxes-only (its output schema carries (N,5)
    straight boxes, like the reference's assume_straight_pages=True
    contract); the rotated polygon path runs through
    ``ocr_predictor(assume_straight_pages=False)``. ``batch_size`` is
    accepted for parity and discarded: each page runs its own forward."""
    _ = batch_size  # parity no-op: detection runs one forward per page
    if not assume_straight_pages:
        raise NotImplementedError(
            "the standalone detection stage emits straight boxes; use "
            "ocr_predictor(assume_straight_pages=False) for the polygon path"
        )
    engine = engine_cfg or _engine_of(arch, "stub_fast")
    if load_in_8_bit:
        engine = replace(engine, load_in_8_bit=True)
    from onnxtr_spark.stages.detect import det_thresholds_for

    bin_thresh, box_thresh, unclip_ratio = det_thresholds_for(engine.arch)
    return DetectionPredictorSpark(
        DetectConfig(
            bin_thresh=bin_thresh,
            box_thresh=box_thresh,
            unclip_ratio=unclip_ratio,
            preserve_aspect_ratio=preserve_aspect_ratio,
            symmetric_pad=symmetric_pad,
            engine=engine,
        )
    )


@dataclass(frozen=True)
class RecognitionPredictorSpark:
    """``predictor(detected)`` → the word span relation — the standalone
    recognition stage over detection output (stages/recognize.py; the
    reference's crop-list input maps to the (page, boxes) relation the
    detect stage emits, crops are extracted executor-side)."""

    cfg: RecognizeConfig

    def __call__(self, detected: DataFrame) -> DataFrame:
        from onnxtr_spark.stages.recognize import recognize_pages

        return recognize_pages(detected, self.cfg)


def recognition_predictor(
    arch=None,
    symmetric_pad: bool = False,
    batch_size: int = 128,
    load_in_8_bit: bool = False,
    engine_cfg: EngineConfig | None = None,
    vocab: str = DEFAULT_VOCAB,
) -> RecognitionPredictorSpark:
    """The reference ``recognition_predictor`` (models/recognition/
    zoo.py:61-96): arch-or-config polymorphism and the quantization
    flag. The crop Resize's ``symmetric_pad`` flag is accepted for
    parity and discarded: crops pad with background white per model
    batch, and decoding does not depend on the padded side. The decoder
    family (C1 CTC vs C2 attention) follows the resolved engine's
    DecodeContract."""
    _ = symmetric_pad  # parity no-op: decoding is pad-side-invariant
    engine = engine_cfg or _engine_of(arch, "stub_crnn")
    if load_in_8_bit:
        engine = replace(engine, load_in_8_bit=True)
    if hasattr(arch, "param"):
        vocab = arch.param("vocab", vocab)
    return RecognitionPredictorSpark(
        RecognizeConfig(batch_size=batch_size, vocab=vocab, engine=engine)
    )


@dataclass(frozen=True)
class OrientationPredictorSpark:
    """``predictor(images)`` → (media_ref, orientation_class,
    orientation_deg) over any (media_ref, png) relation — crops or
    pages; the reference's crop/page variants differ only in the model
    artifact (models/classification/zoo.py:19-49), which the engine
    config selects here."""

    model_type: str  # "crop" | "page" (display/parity only)
    engine: EngineConfig

    def __call__(self, images: DataFrame) -> DataFrame:
        return page_orientations(images, self.engine)


def crop_orientation_predictor(
    arch=None, batch_size: int = 512, load_in_8_bit: bool = False,
    engine_cfg: EngineConfig | None = None,
) -> OrientationPredictorSpark:
    """Reference models/classification/zoo.py:52-86."""
    _ = batch_size  # classification batches per Arrow chunk (engine.run)
    engine = engine_cfg or _engine_of(arch, "stub_mobilenet_orient")
    if load_in_8_bit:
        engine = replace(engine, load_in_8_bit=True)
    return OrientationPredictorSpark("crop", engine)


def page_orientation_predictor(
    arch=None, batch_size: int = 512, load_in_8_bit: bool = False,
    engine_cfg: EngineConfig | None = None,
) -> OrientationPredictorSpark:
    """Reference models/classification/zoo.py:88-124."""
    _ = batch_size
    engine = engine_cfg or _engine_of(arch, "stub_mobilenet_orient")
    if load_in_8_bit:
        engine = replace(engine, load_in_8_bit=True)
    return OrientationPredictorSpark("page", engine)
