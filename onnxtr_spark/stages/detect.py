"""Detect stage: page images → relative word boxes.

One ``mapInArrow`` pass: the page layer sequence (stages/page_path.py)
cut after the loc_preds hooks — the reference's detection predictor
(onnxtr/models/detection/predictor/base.py:35-67): decode → straighten
if configured → P1 map resize → P2-P4 + model run (or the stub's uint8
fold) → D1-D6 postprocess, one stacked call per group of pages → P8
padding removal → hooks. Maps are per page and content-exact, so the
boxes equal the ones the fused stage crops from.

Input columns : doc_id, offset, media_ref, png, height, width
Output columns: doc_id, offset, media_ref, png, height, width,
                boxes array<array<double>>  ([xmin,ymin,xmax,ymax,score])

Page bytes are passed through so the recognize stage can crop without a
second join against the media table (SURVEY.md §2.5 G1: the det→reco
join is explode + co-resident slicing, never a shuffle join). With
``straighten_pages`` the boxes are relative to the straightened page,
so that page replaces the stored one (and its height/width).

Scale notes:
- pages are embarrassingly parallel; upstream salt-repartition by
  media_ref spreads a 1000-page document across tasks (north_rule skew).
- the model session is a per-worker singleton (engine.py), so executor
  reuse amortizes model load at 10^12-doc scale.
- Arrow batches are kept small (see session.py maxRecordsPerBatch) since
  each record carries ~1 MB of image bytes.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from onnxtr_spark import arrow_cols, imaging
from onnxtr_spark.engine import EngineConfig
from onnxtr_spark.kernels import detect_post
from onnxtr_spark.stages.page_path import PagePath, check_contracts

DETECT_SCHEMA = (
    "doc_id string, offset int, media_ref string, png binary, height int, width int, "
    "boxes array<array<double>>"
)
# DETECT_SCHEMA's Arrow types (arrow_cols): passed-through columns are cast to them
DETECT_TYPES = {
    "doc_id": pa.string(), "offset": pa.int32(), "media_ref": pa.string(), "png": pa.binary(),
    "height": pa.int32(), "width": pa.int32(),
    "boxes": pa.list_(pa.field("element", pa.list_(pa.field("element", pa.float64())))),
}


# Per-architecture postprocess defaults, the reference's default_cfgs
# pattern: DBNet binarizes at 0.3 (models/detection/models/
# differentiable_binarization.py:59-60) while FAST and LinkNet use 0.1
# (fast.py:57-58, linknet.py:59-60); box_thresh is 0.1 and unclip 1.5
# (postprocessor/base.py:36) across the family. Keyed by family prefix
# so every variant ("db_resnet50", "db_mobilenet_v3_large", ...) and
# the stub archs ("stub_db_float") resolve without enumeration.
DET_DEFAULT_CFGS: dict[str, tuple[float, float, float]] = {
    "db": (0.3, 0.1, 1.5),
    "fast": (0.1, 0.1, 1.5),
    "linknet": (0.1, 0.1, 1.5),
}


def det_thresholds_for(arch: str) -> tuple[float, float, float]:
    """(bin_thresh, box_thresh, unclip_ratio) for a detection arch."""
    family = arch.removeprefix("stub_")
    for prefix, t in DET_DEFAULT_CFGS.items():
        if family.startswith(prefix):
            return t
    return (detect_post.BIN_THRESH, detect_post.BOX_THRESH, detect_post.UNCLIP_RATIO)


@dataclass(frozen=True)
class DetectConfig:
    map_size: int = 512  # detection model input (reference uses 1024, models/zoo.py:22)
    bin_thresh: float = detect_post.BIN_THRESH
    box_thresh: float = detect_post.BOX_THRESH
    unclip_ratio: float = detect_post.UNCLIP_RATIO
    # The reference Resize contract (transforms/base.py:41-86): keep
    # aspect ratio and pad (symmetrically or bottom/right), or stretch
    # anisotropically. Maps are per page, so the symmetric default needs
    # no pad at all: the map is the content-exact isotropic resize and
    # P8 removal is the identity. Bottom/right pad is real, and
    # remove_padding inverts it on the emitted relative boxes
    # (_utils/base.py:12-62); a stretched map is page-relative as is.
    # All four combinations are span-equivalent on the same pages — only
    # the map geometry differs.
    preserve_aspect_ratio: bool = True
    symmetric_pad: bool = True
    # loc_preds hooks (reference OCRPredictor.add_hook,
    # models/predictor/base.py:77,204-210, applied predictor.py:112-113):
    # callables (N,5) -> (N,5) — (N,5,2) polygons on the rotated path —
    # applied to each page's boxes after postprocess+unpad, inside the
    # executor stage. Must be picklable (top-level functions).
    hooks: tuple = ()
    # I5/G4 analog (reference straighten_pages flag, models/zoo.py:19-27;
    # predictor/base.py:102-124): classify page orientation and rectify
    # with rot90, then undo the residual skew (estimate_orientation +
    # rotate) before detection. Off by default like the reference.
    straighten_pages: bool = False
    # Rotated-word path (reference assume_straight_pages flag,
    # models/zoo.py:19-27): when False, detection emits (N,4,2) polygons
    # (kernels/rotated_post.py), recognition crops along them
    # (kernels/rotated.extract_rcrops_nearest), the builder uses the
    # rotated sort/line kernels, and exported geometry is the B7
    # enclosing straight box (models/builder.py:322-326). Runs in the
    # fused stage; detect_pages raises NotImplementedError for it (its
    # output schema carries straight boxes).
    assume_straight_pages: bool = True
    # G3 crop-orientation rectification inside the rotated path
    # (reference disable_crop_orientation flag, models/zoo.py:19-27 —
    # the classifier is ON by default when assume_straight_pages=False).
    disable_crop_orientation: bool = False
    # Model registry / EngineConfig analog (reference models/engine.py:
    # 33-90 + factory/hub.py): which session the stage resolves. The
    # default stub is affine in pixel value and folds into the uint8
    # postprocess (the fast path); any other uint8 session runs on the
    # resized map, and a float-contract engine
    # (input_contract="float_bchw"/"float_bhwc") gets the REAL P2-P4
    # preprocess (kernels/preprocess.py) ahead of the session — a real
    # ONNX model drops in via config only.
    engine: EngineConfig = EngineConfig()
    # Orientation-classifier engine (reference clf_engine_cfg,
    # models/zoo.py:79/139): resolves the I5/G3 classifier session; None
    # = the registry default (stub_mobilenet_orient).
    orient_engine: EngineConfig | None = None


def detect_pages(pages: DataFrame, cfg: DetectConfig = DetectConfig()) -> DataFrame:
    """Run detection over a pages DataFrame."""
    if not cfg.assume_straight_pages:
        raise NotImplementedError(
            "detect_pages emits straight (N, 5) boxes; the rotated polygon path "
            "runs in fused.detect_recognize_pages (ocr_predictor(assume_straight_pages=False))"
        )
    check_contracts(cfg.engine)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        path = PagePath(cfg)
        for batch in batches:
            if not batch.num_rows:
                continue
            pngs, locs = batch.column("png").to_pylist(), []
            for g, imgs, group_locs in path.detect(pngs):
                if cfg.straighten_pages:
                    pngs[g : g + len(imgs)] = [imaging.encode_image(img) for img in imgs]
                locs.extend(group_locs)
            out = {name: batch.column(name) for name in ("doc_id", "offset", "media_ref", "png", "height", "width")}
            if cfg.straighten_pages:
                height, width = zip(*(imaging.peek_dims(p) for p in pngs))
                out.update(png=arrow_cols.binary(pngs), height=arrow_cols.int32(height), width=arrow_cols.int32(width))
            # one list of [xmin, ymin, xmax, ymax, score] per box, per page
            out["boxes"] = arrow_cols.lists(
                [loc.shape[0] for loc in locs],
                arrow_cols.lists(
                    [loc.shape[1] for loc in locs for _ in range(loc.shape[0])],
                    arrow_cols.float64(np.concatenate([loc.astype(np.float64).ravel() for loc in locs])),
                ),
            )
            yield arrow_cols.batch({name: arrow_cols.typed(col, DETECT_TYPES[name]) for name, col in out.items()})

    return pages.mapInArrow(run, schema=DETECT_SCHEMA)
