"""The per-page OCR layer sequence: one implementation per layer.

The reference's detection and recognition predictors are the two halves
of one detect→recognize DAG, and its ``OCRPredictor`` chains them
(models/predictor/predictor.py:72-154). Here the layers of that DAG live
once, in order, as the methods of ``PagePath``:

  decode (S9) → straighten (I5/G4) → map resize (P1) → P2-P4 + forward,
  or the uint8 fold → grouped D1-D6 + unpad (P8) + hooks → crop (G1/G2)
  + P5 filter → crop-orient (G3) → split + resize (W1) → recognize +
  decode (I4, C1/C2) → merge (W2) + reading order + rows (B1-B4)

and the three stages are compositions of them:

- ``fused.detect_recognize_pages`` runs the whole sequence;
- ``detect.detect_pages`` is the sequence cut after the hooks;
- ``recognize.recognize_pages`` is decode, then crop through rows, over
  the detect stage's output.

Detection maps are per page and content-exact (one forward per page,
dynamic spatial dims — FAST/DBNet are FCNs), so the default Resize
contract resizes without padding and P8 removal is the identity; the
asymmetric-pad contract pads bottom/right and unpads, and the stretch
contract maps page-relative coordinates directly.
"""

from __future__ import annotations

from collections.abc import Iterator
from time import perf_counter

import numpy as np
import pyarrow as pa

from onnxtr_spark import arrow_cols, imaging
from onnxtr_spark.engine import (
    CTC_CONTRACT,
    DetectionEngine,
    get_detection_engine,
    get_orientation_engine,
    get_recognition_engine,
)
from onnxtr_spark.kernels import detect_post, preprocess, rotated_post, split_merge
from onnxtr_spark.kernels.builder import reading_order, reading_order_blocks
from onnxtr_spark.kernels.ctc import attention_decode, ctc_best_path
from onnxtr_spark.kernels.geometry import extract_crops, resize_preserve, resize_stretch, resize_unpadded
from onnxtr_spark.kernels.rotated import (
    extract_rcrops_nearest,
    rectify_crops,
    rectify_loc_preds,
    straight_fit,
)
from onnxtr_spark.kernels.straighten import estimate_orientation

# Pages staged per detection group (one batched D1-D6 call each). A
# group's decoded pages and maps are alive together, so this bounds the
# memory staging adds: 16 pages amortize the per-call NumPy overhead
# while the worker's peak RSS stays at the page-at-a-time level.
GROUP_PAGES = 16
# A rotated group keeps its decoded pages (not its maps) until D5-D6.
# On the rotated job, 16 such pages put the worker's peak RSS at
# 183.6-186.7 MB in all 10 perfbench runs; page-at-a-time and 8 pages
# read 170.4-172.0 MB in 16 of 18 runs each (runs in CHANGES.md).
ROTATED_GROUP_PAGES = 8

OUT_COLS = [
    "doc_id", "offset", "media_ref", "word_id", "rank", "line_id", "block_id",
    "xmin", "ymin", "xmax", "ymax", "objectness", "text", "conf",
]

CONTRACTS = ("uint8_bhwc", "float_bchw", "float_bhwc")


def check_contracts(*engine_cfgs) -> None:
    """Plan-time check of each engine's declared input contract."""
    for eng_cfg in engine_cfgs:
        if eng_cfg.input_contract not in CONTRACTS:
            raise ValueError(
                f"unknown engine input_contract {eng_cfg.input_contract!r} "
                f"(expected one of {CONTRACTS})"
            )


def _session_layout(x: np.ndarray, eng_cfg) -> np.ndarray:
    """Channels-first for a ``float_bchw`` session, as-is otherwise."""
    return np.moveaxis(x, -1, 1) if eng_cfg.input_contract == "float_bchw" else x


def decode(png: bytes, channel0: bool = False) -> np.ndarray:
    """S9: frame bytes → H×W×C uint8 page; ``channel0`` keeps a (H, W, 1)
    view of the first plane (3× less traffic through every later layer
    when every model on the path reads channel 0 only)."""
    img = imaging.decode_image(png)
    return img[:, :, :1] if channel0 else img


class PagePath:
    """One worker's layer sequence for a detect config, a recognize
    config, or both: the resolved sessions and the contract flags the
    layers branch on."""

    def __init__(self, det_cfg=None, reco_cfg=None) -> None:
        self.det_cfg, self.reco_cfg = det_cfg, reco_cfg
        self.float_reco = reco_cfg is not None and reco_cfg.engine.input_contract.startswith("float")
        self.fold = False
        if det_cfg is not None:
            self.det = get_detection_engine(det_cfg.engine)
            self.float_det = det_cfg.engine.input_contract.startswith("float")
            # the stub detector is affine in pixel value, so it folds
            # through D1-D6 and the postprocess reads the uint8 map
            # (detect_post.postprocess_pixel_maps); any other session runs
            self.fold = not self.float_det and isinstance(self.det, DetectionEngine)
        if reco_cfg is not None:
            self.reco = get_recognition_engine(reco_cfg.vocab, reco_cfg.engine)
            # C1 vs C2: the decoder follows the model family, not the
            # stage (reference binds a postprocessor per model class —
            # engine.py DecodeContract); CTC engines predate the attribute
            self.contract = getattr(self.reco, "decode_contract", CTC_CONTRACT)
        # both stub models read channel 0 only; a float-contract engine
        # (a real CNN) keeps the channel axis — P2 normalize is
        # per-channel and the model consumes every plane
        self.channel0 = self.fold and reco_cfg is not None and not self.float_reco
        self.decode_s = 0.0

    def detect(self, pngs: list[bytes]):
        """Decode → straighten → map resize + forward per page, then the
        grouped postprocess: yields (start, pages, locs) per group of at
        most ``GROUP_PAGES`` pages (``ROTATED_GROUP_PAGES`` on the
        rotated path). The postprocess pulls the maps one page at a
        time, and each page joins the group's page list as its map is
        made. A group's pages and maps are dropped before the next group
        decodes — the yielded page list is emptied on resume — and
        decode time accumulates in ``decode_s``."""
        group_pages = GROUP_PAGES if self.det_cfg.assume_straight_pages else ROTATED_GROUP_PAGES
        for g in range(0, len(pngs), group_pages):
            imgs: list[np.ndarray] = []

            def maps():
                for png in pngs[g : g + group_pages]:
                    t_dec = perf_counter()
                    img = decode(png, self.channel0)
                    self.decode_s += perf_counter() - t_dec
                    imgs.append(self.straighten(img) if self.det_cfg.straighten_pages else img)
                    yield self.detect_map(imgs[-1])

            yield g, imgs, self.detect_group(imgs, maps())
            imgs.clear()  # the caller's reference too

    def straighten(self, img: np.ndarray) -> np.ndarray:
        """I5 orientation classify + G4 rectification (reference
        predictor.py:100-106 + base.py:102-124): undo the stored
        90°-multiple rotation, then the arbitrary-angle pass — the seg
        bitmap of a first detection pass gives estimate_orientation the
        residual skew from line-like contours and the page is rotated
        straight; detection then runs on the straightened page. General
        orientation is (0, 1.0) because the classifier just rectified
        the 90° component."""
        cfg = self.det_cfg
        k = get_orientation_engine(cfg.orient_engine).run_one(img)
        if k:
            img = np.ascontiguousarray(np.rot90(img, -k))
        pix_thresh = float(np.floor(255.0 - 255.0 * cfg.bin_thresh))
        angle = estimate_orientation((img[:, :, 0] <= pix_thresh).astype(np.uint8), (0, 1.0))
        if not angle:
            return img
        if img.shape[2] == 1:
            # rotate the single channel 2-D (the (H,W,1) slice pays a
            # per-pixel trailing-dim gather)
            return imaging.rotate_image_nearest(np.ascontiguousarray(img[:, :, 0]), angle)[:, :, None]
        return imaging.rotate_image_nearest(img, angle)

    def detect_map(self, img: np.ndarray) -> np.ndarray:
        """P1 map resize, then the uint8 fold or P2-P4 + one forward:
        the (H, W) map the postprocess reads."""
        cfg, eng_cfg = self.det_cfg, self.det_cfg.engine
        if cfg.preserve_aspect_ratio and cfg.symmetric_pad:
            # default contract: content-exact isotropic map (one scale =
            # min ratio for both axes) with no pad rows at all
            resized = resize_unpadded(img, cfg.map_size, cfg.map_size)
        elif cfg.preserve_aspect_ratio:
            # asymmetric pad (bottom/right, transforms/base.py:72-76);
            # white pad: the stub reads pixel value as text evidence
            resized = resize_preserve(img, cfg.map_size, cfg.map_size, symmetric_pad=False, pad_value=255)
        else:
            # anisotropic stretch: map-relative coords ARE page-relative
            resized = resize_stretch(img, cfg.map_size, cfg.map_size)
        if self.fold:
            self.det.simulate_model_cost(1)  # no-op unless SPARK_GRAFT_MODEL_ITERS set
            return resized[:, :, 0]
        x = preprocess.cast_normalize(resized, eng_cfg.mean, eng_cfg.std)[None] if self.float_det else resized[None]
        return self.det.run(_session_layout(x, eng_cfg))[0]

    def detect_group(self, imgs: list[np.ndarray], maps: Iterator[np.ndarray]) -> list[np.ndarray]:
        """D1-D6 over a group's maps, then P8 unpad and the loc_preds
        hooks per page: (N, 5) straight boxes, or (N, 5, 2) polygons
        with the score row on the rotated path. Straight maps go through
        one stacked call (separator rows obey cv2's border rule,
        kernels/detect_post.py); the rotated group kernel labels and
        scores each map as ``maps`` yields it and keeps only the passing
        components' runs, so at most the previous rotated map is alive
        while the next one is made (kernels/rotated_post.py)."""
        cfg = self.det_cfg
        thresholds = (cfg.bin_thresh, cfg.box_thresh, cfg.unclip_ratio)
        if cfg.assume_straight_pages:
            post = detect_post.postprocess_pixel_maps if self.fold else detect_post.postprocess_prob_maps
            locs, unpad = post(list(maps), *thresholds), detect_post.remove_padding
        else:
            post = rotated_post.postprocess_pixel_maps_rotated if self.fold else rotated_post.postprocess_prob_maps_rotated
            locs, unpad = post(maps, *thresholds), rotated_post.remove_padding_rotated
        out = []
        for img, loc in zip(imgs, locs):
            if cfg.preserve_aspect_ratio and not cfg.symmetric_pad:
                # map-relative → page-relative (_utils/base.py:12-62)
                loc = unpad(loc, img.shape[0], img.shape[1], preserve_aspect_ratio=True, symmetric_pad=False)
            for hook in cfg.hooks:  # loc_preds hooks (DetectConfig.hooks)
                loc = hook(loc)
            out.append(loc)
        return out

    def crop(self, img: np.ndarray, loc: np.ndarray):
        """G1 straight or G2 rotated crops, then the P5 zero-size filter
        (models/predictor/base.py:157-162) → (boxes, polys, crops);
        rotated pages export the B7 enclosing straight box
        (models/builder.py:322-326) and keep their (N, 4, 2) polygons."""
        # a uint8 recognizer reads channel 0 only: crop a (H, W, 1) view
        src = img[:, :, :1] if (img.shape[2] == 3 and not self.float_reco) else img
        if loc.ndim == 2:
            boxes, polys = loc, None
            crops = extract_crops(src, loc[:, :4].astype(np.float64)) if loc.shape[0] else []
        else:
            polys = loc[:, :4, :].astype(np.float64)
            scores = loc[:, 4, 1].astype(np.float64)  # detach_scores, geometry.py:119-122
            crops = extract_rcrops_nearest(src, polys) if polys.shape[0] else []
            boxes = (
                np.concatenate([rotated_post.polys_to_straight(polys), scores[:, None]], axis=1)
                if polys.shape[0]
                else np.zeros((0, 5), dtype=np.float64)
            )
        keep = [i for i, c in enumerate(crops) if c.shape[0] > 0 and c.shape[1] > 0]
        crops = [crops[i] for i in keep]
        boxes = boxes[keep] if keep else boxes[:0]
        if polys is not None:
            polys = polys[keep] if keep else polys[:0]
        return boxes, polys, crops

    def orient(self, pending: list[tuple[dict, list[np.ndarray]]], flat: list[np.ndarray]) -> None:
        """G3 crop rectification (reference models/zoo.py:19-27 +
        predictor.py:126-129): ONE batched classify over every pending
        rotated crop of the chunk, then rot90 each crop readable,
        re-roll its polygon, and split it."""
        ks = get_orientation_engine(self.det_cfg.orient_engine).run([c for _, crops in pending for c in crops])
        pos = 0
        for page, crops in pending:
            orientations = [int(k) for k in ks[pos : pos + len(crops)]]
            pos += len(crops)
            page["polys"] = rectify_loc_preds(page["polys"], orientations)
            self.split(page, rectify_crops(crops, orientations), flat)

    def split(self, page: dict, crops: list[np.ndarray], flat: list[np.ndarray]) -> None:
        """W1 wide-crop split + height-normalized, unpadded resize,
        appended to the chunk's flat split list (the batch step pads to
        the batch's max width — a dynamic T axis)."""
        cfg = self.reco_cfg
        splits, page["crop_map"], _ = split_merge.split_crops(
            crops, cfg.critical_ar, cfg.target_ar, cfg.overlap_ratio
        )
        page["start"], page["n_splits"] = len(flat), len(splits)
        flat.extend(resize_unpadded(s, cfg.crop_h, cfg.crop_w) for s in splits)

    def recognize(self, flat: list[np.ndarray]) -> list[tuple[str, float]]:
        """I4 forward + C1/C2 decode in model batches flattened across the
        chunk's pages (reference predictor.py:132). Batches pad with
        background white; a float-contract engine gets P2-P4 first."""
        cfg, eng_cfg = self.reco_cfg, self.reco_cfg.engine
        preds: list[tuple[str, float]] = []
        for start in range(0, len(flat), cfg.batch_size):
            chunk = flat[start : start + cfg.batch_size]
            max_w = max(c.shape[1] for c in chunk)
            batch = np.full((len(chunk), cfg.crop_h, max_w) + chunk[0].shape[2:], 255, dtype=np.uint8)
            for i, c in enumerate(chunk):
                batch[i, : c.shape[0], : c.shape[1]] = c
            if self.float_reco:
                batch = preprocess.cast_normalize(batch, eng_cfg.mean, eng_cfg.std)
            logits = self.reco.run(_session_layout(batch, eng_cfg))
            if self.contract.kind == "attention":
                preds.extend(attention_decode(logits, cfg.vocab, self.contract.conf, self.contract.n_special))
            else:
                preds.extend(ctc_best_path(logits, cfg.vocab))
        return preds

    def rows(self, pages: list[dict], flat: list[np.ndarray], keys: pa.RecordBatch) -> pa.RecordBatch:
        """Recognize the chunk's splits, W2-merge them per page, then
        B1-B4 reading order for every page of the chunk in one kernel
        call → the ``OUT_COLS`` rows as one Arrow batch in the declared
        types. A page's ``key`` is its row in ``keys`` (the chunk's
        doc_id, offset, media_ref), spread over its words with one
        ``take``. Rotated pages are ordered by their straight fit; B4 is
        straight-only."""
        cfg = self.reco_cfg
        preds = self.recognize(flat)
        pages = [page for page in pages if page["boxes"].shape[0]]
        words = [
            word
            for page in pages
            for word in split_merge.remap_preds(
                preds[page["start"] : page["start"] + page["n_splits"]], page["crop_map"], cfg.overlap_ratio
            )
        ]
        counts = np.array([page["boxes"].shape[0] for page in pages], dtype=np.int64)
        boxes = np.concatenate([page["boxes"] for page in pages] or [np.zeros((0, 5))])
        rotated = bool(pages) and pages[0]["polys"] is not None  # one detector config per chunk
        if cfg.resolve_blocks and not rotated:
            rank, line_id, block_id = reading_order_blocks(boxes[:, :4], counts)
        else:
            fits = np.concatenate([straight_fit(p["polys"]) for p in pages]) if rotated else boxes[:, :4]
            rank, line_id = reading_order(fits, counts)
            block_id = np.zeros_like(rank)
        spread = keys.take(arrow_cols.int32(np.repeat([page["key"] for page in pages], counts)))
        geo = boxes.astype(np.float64)
        return arrow_cols.batch({
            "doc_id": arrow_cols.typed(spread.column("doc_id"), pa.string()),
            "offset": arrow_cols.typed(spread.column("offset"), pa.int32()),
            "media_ref": arrow_cols.typed(spread.column("media_ref"), pa.string()),
            "word_id": arrow_cols.int32(np.arange(len(rank)) - np.repeat(np.cumsum(counts) - counts, counts)),
            "rank": arrow_cols.int32(rank),
            "line_id": arrow_cols.int32(line_id),
            "block_id": arrow_cols.int32(block_id),
            "xmin": arrow_cols.float64(geo[:, 0]),
            "ymin": arrow_cols.float64(geo[:, 1]),
            "xmax": arrow_cols.float64(geo[:, 2]),
            "ymax": arrow_cols.float64(geo[:, 3]),
            "objectness": arrow_cols.float64(geo[:, 4]),
            "text": arrow_cols.string([text for text, _ in words]),
            "conf": arrow_cols.float64([conf for _, conf in words]),
        })
