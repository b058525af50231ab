"""Artefact-detection stage (I6): page images → non-text artefact rows.

Re-expresses the reference's ArtefactDetector postprocess
(contrib/artefacts.py:65-104) as one ``mapInPandas`` over media pages:
decode → YOLO-contract stub session (engine.ArtefactEngine) → per row:
class-score max >= conf_threshold → argmax class → box rescale from the
1024² input space back to page pixels with int() truncation → greedy
NMS (kernels/nms.py). Emits (media_ref, label, confidence, xmin, ymin,
xmax, ymax) — the ``kind='media'`` artefact spans of the target span
schema (reference io/elements.py:104-133 Artefact element).

Scale shape: identical to the detect stage — embarrassingly parallel
per page, per-worker cached session, small output rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from onnxtr_spark.engine import ART_INPUT, ARTEFACT_LABELS, get_artefact_engine
from onnxtr_spark.kernels.nms import nms_boxes
from onnxtr_spark.stages.page_path import decode

ARTEFACT_SCHEMA = (
    "media_ref string, label string, confidence double, "
    "xmin int, ymin int, xmax int, ymax int"
)

CONF_THRESHOLD = 0.5  # reference contrib/artefacts.py:56
IOU_THRESHOLD = 0.5  # reference contrib/artefacts.py:57


def detect_artefacts(
    pages: DataFrame,
    conf_threshold: float = CONF_THRESHOLD,
    iou_threshold: float = IOU_THRESHOLD,
) -> DataFrame:
    """Run the artefact detector over a pages DataFrame
    (doc_id/media_ref/png/height/width)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = get_artefact_engine()
        for pdf in batches:
            if pdf.empty:
                continue
            out: list[dict] = []
            for media_ref, png in zip(pdf["media_ref"], pdf["png"]):
                img = decode(png)
                org_height, org_width = img.shape[:2]
                width_scale = org_width / ART_INPUT
                height_scale = org_height / ART_INPUT
                rows = engine.run_one(img)
                sample: list[dict] = []
                for row in rows:
                    classes_scores = row[4:]
                    max_score = float(np.amax(classes_scores))
                    if max_score >= conf_threshold:
                        class_id = int(np.argmax(classes_scores))
                        x, y, w, h = row[0], row[1], row[2], row[3]
                        sample.append({
                            "media_ref": media_ref,
                            "label": ARTEFACT_LABELS[class_id],
                            "confidence": max_score,
                            "xmin": int((x - w / 2) * width_scale),
                            "ymin": int((y - h / 2) * height_scale),
                            "xmax": int((x + w / 2) * width_scale),
                            "ymax": int((y + h / 2) * height_scale),
                        })
                boxes = np.array(
                    [[s["xmin"], s["ymin"], s["xmax"], s["ymax"]] for s in sample], dtype=np.float64
                ).reshape(-1, 4)
                scores = np.array([s["confidence"] for s in sample])
                keep = nms_boxes(boxes, scores, conf_threshold, iou_threshold)
                out.extend(sample[i] for i in sorted(keep))
            yield pd.DataFrame(
                out, columns=["media_ref", "label", "confidence", "xmin", "ymin", "xmax", "ymax"]
            )

    return pages.mapInPandas(run, schema=ARTEFACT_SCHEMA)
