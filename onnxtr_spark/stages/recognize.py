"""Recognize stage: page images + boxes → ordered word predictions.

One ``mapInArrow`` pass over the detect stage's output: the page layer
sequence (stages/page_path.py) from decode, then crop through row
building — the reference's recognition predictor
(onnxtr/models/recognition/predictor/base.py:42-79) plus the
document-builder's per-page geometry (models/builder.py:42-146):

  G1 crop extraction (co-resident page bytes — the det→reco join)
  → P5 zero-size crop filter (models/predictor/base.py:157-162)
  → W1 wide-crop split (critical_ar=8, target_ar=6, overlap=0.5)
  → P1 height-normalized resize, padded per model batch
  → I4 model forward (P2-P4 first for a float-contract engine), batched
    ACROSS pages within the Arrow chunk (the reference flattens crops
    across pages the same way, models/predictor/predictor.py:132)
  → C1 CTC / C2 attention decode (the engine's DecodeContract)
  → W2 merge split predictions (Hamming best-overlap)
  → B1-B4 reading-order rank, line and block ids (one kernel call over
    every page of the Arrow chunk — fused here because all of a page's
    boxes are already co-resident; saves the extra shuffle an
    applyInPandas build stage would need).

The boxes are read back as float32: postprocess emits float32, so the
round trip through the double column is lossless and the crops and
reading order see exactly what the fused stage sees — chaining
``recognize_pages(detect_pages(pages))`` gives the fused stage's rows.

Output: one row per word —
  doc_id, offset, media_ref, word_id, rank, line_id, block_id,
  xmin, ymin, xmax, ymax, objectness, text, conf

Image bytes are dropped at this boundary (memory: SURVEY.md §7).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from onnxtr_spark.engine import EngineConfig
from onnxtr_spark.kernels import split_merge
from onnxtr_spark.stages.page_path import PagePath, check_contracts, decode
from onnxtr_spark.vocabs import DEFAULT_VOCAB

RECOGNIZE_SCHEMA = (
    "doc_id string, offset int, media_ref string, word_id int, rank int, line_id int, "
    "block_id int, xmin double, ymin double, xmax double, ymax double, objectness double, "
    "text string, conf double"
)


@dataclass(frozen=True)
class RecognizeConfig:
    crop_h: int = 32  # reference reco input 32×128 (models/recognition/zoo.py)
    crop_w: int = 128
    critical_ar: float = split_merge.CRITICAL_AR
    target_ar: int = split_merge.TARGET_AR
    overlap_ratio: float = split_merge.OVERLAP_RATIO
    # Model batch. The reference uses 1024 (models/recognition/zoo.py:54)
    # for ONNX-session efficiency; our per-batch working set is
    # B×T×C float32 logits, and 256 keeps construction+decode inside
    # cache instead of round-tripping DRAM (measured: DRAM-bound at 32
    # cores with 1024).
    batch_size: int = 256
    vocab: str = DEFAULT_VOCAB
    # B1-B3 always run; B4 block clustering is off by default like the
    # reference (models/builder.py:33 resolve_blocks=False)
    resolve_blocks: bool = False
    # session resolution (model registry / EngineConfig analog)
    engine: EngineConfig = EngineConfig(arch="stub_crnn")


def recognize_pages(detected: DataFrame, cfg: RecognizeConfig = RecognizeConfig()) -> DataFrame:
    """Run recognition + per-page builder geometry over detect output."""
    check_contracts(cfg.engine)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        path = PagePath(reco_cfg=cfg)
        for batch in batches:
            if not batch.num_rows:
                continue
            pages: list[dict] = []
            flat: list = []
            for key, (png, raw) in enumerate(zip(batch.column("png").to_pylist(), batch.column("boxes").to_pylist())):
                if not raw:
                    continue  # a page without boxes has no words
                boxes, _, crops = path.crop(decode(png), np.array(raw, dtype=np.float32))
                page = {"key": key, "boxes": boxes, "polys": None}
                pages.append(page)
                path.split(page, crops, flat)
            yield path.rows(pages, flat, batch.select(["doc_id", "offset", "media_ref"]))

    return detected.mapInArrow(run, schema=RECOGNIZE_SCHEMA)
