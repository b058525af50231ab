"""Fused detect+recognize stage: page images → ordered word rows.

One ``mapInPandas`` running the whole page layer sequence
(stages/page_path.py) — the operator-fusion decision the reference
makes by running both models in one process
(models/predictor/predictor.py:72-154). Rationale (measured, see
BASELINE.md): page blobs are the dominant data volume; chaining the
standalone ``detect_pages``/``recognize_pages`` stages ships every page
across the JVM↔Python Arrow boundary twice more than necessary. Fusing
them means a page's bytes are decoded exactly once per pipeline and
never re-serialized. The standalone stages compose the same layers, so
they return the same rows.

Recognition model batches are flattened across all pages in the Arrow
chunk (reference flattens across pages too, predictor.py:132).

Detection is staged in groups of at most ``GROUP_PAGES`` pages of the
Arrow chunk: every page of a group is decoded, straightened if
configured, and map-resized (plus the float model's forward); then one
batched straight D1-D6 call covers the whole group. That call stacks
the group's maps with a separator row between pages, and separator rows
and pad columns obey cv2's border rule (foreground for erosion, cleared
before dilation and labeling — kernels/detect_post.py), so every page
gets exactly the boxes a one-page call gives it. The group's crops are
cut, and its pages and maps dropped, before the next group starts. The
rotated path has no group kernel and runs page at a time (groups of
one); its crops are classified (G3) in one batch per chunk.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.page_path import GROUP_PAGES, OUT_COLS, PagePath, check_contracts
from onnxtr_spark.stages.recognize import RECOGNIZE_SCHEMA, RecognizeConfig

__all__ = ["GROUP_PAGES", "OUT_COLS", "detect_recognize_pages"]


def detect_recognize_pages(
    pages: DataFrame,
    det_cfg: DetectConfig = DetectConfig(),
    reco_cfg: RecognizeConfig = RecognizeConfig(),
    metrics_acc=None,
) -> DataFrame:
    """Detect + recognize + per-page builder rank in one Arrow pass.

    ``metrics_acc``: optional list accumulator (lineage.metrics_accumulator)
    collecting one per-PARTITION row (partition_id, pages, boxes, words,
    decode_ms, wall_ms) — the north-star lineage metrics (pages decoded,
    boxes detected, words recognized, decode latency). Accumulator
    semantics: task retries may double-count (Spark guarantees
    exactly-once only for actions) — metrics, not bookkeeping; resume
    correctness never depends on them.
    """
    check_contracts(det_cfg.engine, reco_cfg.engine)
    # the rotated postprocess has no group kernel: its pages go one at a
    # time, so staging would only hold their maps longer
    group_pages = GROUP_PAGES if det_cfg.assume_straight_pages else 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from time import perf_counter

        path = PagePath(det_cfg, reco_cfg)
        t_part = perf_counter()
        m_pages = m_boxes = m_words = 0

        for pdf in batches:
            if pdf.empty:
                continue
            pages: list[dict] = []
            flat: list = []  # the chunk's resized splits, in page order
            pending: list[tuple[dict, list]] = []  # G3 crops awaiting the batched classify
            keys = list(zip(pdf["doc_id"], pdf["offset"], pdf["media_ref"]))
            for g, imgs, locs in path.detect(pdf["png"].tolist(), group_pages):
                m_pages += len(imgs)
                for (doc_id, offset, media_ref), img, loc in zip(keys[g:], imgs, locs):
                    boxes, polys, crops = path.crop(img, loc)
                    m_boxes += int(boxes.shape[0])
                    page = {"key": (doc_id, int(offset), media_ref), "boxes": boxes, "polys": polys}
                    pages.append(page)
                    if polys is not None and crops and not det_cfg.disable_crop_orientation:
                        pending.append((page, crops))  # classified across the chunk below
                    else:
                        path.split(page, crops, flat)
            if pending:
                path.orient(pending, flat)
            out = path.rows(pages, flat)
            m_words += len(out)
            yield out

        if metrics_acc is not None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            metrics_acc.add([(
                int(ctx.partitionId()) if ctx else -1,
                m_pages, m_boxes, m_words,
                round(path.decode_s * 1000.0, 3),
                round((perf_counter() - t_part) * 1000.0, 3),
            )])

    return pages.mapInPandas(run, schema=RECOGNIZE_SCHEMA)
