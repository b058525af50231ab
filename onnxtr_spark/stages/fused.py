"""Fused detect+recognize stage: page images → ordered word rows.

One ``mapInArrow`` running the whole page layer sequence
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
Arrow chunk (``ROTATED_GROUP_PAGES`` on the rotated path): every page of
a group is decoded, straightened if configured, and map-resized (plus
the float model's forward); then one batched D1-D6 call covers the
whole group. The straight call stacks the group's maps with a
separator row between pages, and separator rows and pad columns obey
cv2's border rule (foreground for erosion, cleared before dilation and
labeling — kernels/detect_post.py), so every page gets exactly the
boxes a one-page call gives it. The rotated call opens, labels and
scores each page's map as it is made, keeps only the passing
components' runs, and fits and unclips the group's polygons at once
(kernels/rotated_post.py). The group's crops are cut, and its pages and
maps dropped, before the next group starts. Rotated crops are
classified (G3) in one batch per chunk.

The stage reads and writes Arrow batches (onnxtr_spark/arrow_cols.py):
a page's key is its row in the chunk, spread over its words with one
``take``, and nothing it imports imports pandas, so a reused Python
worker never holds it (importing it adds ~22 MB to a worker's RSS).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
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

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from time import perf_counter

        path = PagePath(det_cfg, reco_cfg)
        t_part = perf_counter()
        m_pages = m_boxes = m_words = 0

        for batch in batches:
            if not batch.num_rows:
                continue
            pages: list[dict] = []
            flat: list = []  # the chunk's resized splits, in page order
            pending: list[tuple[dict, list]] = []  # G3 crops awaiting the batched classify
            for g, imgs, locs in path.detect(batch.column("png").to_pylist()):
                m_pages += len(imgs)
                for key, (img, loc) in enumerate(zip(imgs, locs), g):
                    boxes, polys, crops = path.crop(img, loc)
                    m_boxes += int(boxes.shape[0])
                    page = {"key": key, "boxes": boxes, "polys": polys}
                    pages.append(page)
                    if polys is not None and crops and not det_cfg.disable_crop_orientation:
                        pending.append((page, crops))  # classified across the chunk below
                    else:
                        path.split(page, crops, flat)
            if pending:
                path.orient(pending, flat)
            out = path.rows(pages, flat, batch.select(["doc_id", "offset", "media_ref"]))
            m_words += out.num_rows
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

    return pages.mapInArrow(run, schema=RECOGNIZE_SCHEMA)
