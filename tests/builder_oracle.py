"""Document-builder reading order (B1/B2): the scalar per-page oracle.

``sort_boxes``, ``resolve_sub_lines`` and ``resolve_lines`` mirror the
reference's builder one page at a time (models/builder.py:42-146),
including its default (unstable) ``argsort`` for the box sort and the
within-line xmin sort; ``resolve_lines_rotated`` is the same scan over
a rotated page's straightened fit, with each word's y center recomputed,
and ``sort_boxes_rotated`` its sort. ``word_order``, ``word_order_blocks`` and
``word_order_rotated`` flatten them into per-box (rank, line_id[,
block_id]) arrays, and ``page_rows`` is the per-page, tuple-per-word
row builder ``PagePath.rows`` ran before the chunk kernel
(``kernels/builder.reading_order``). ``tests/test_reading_order_chunk.py``
asserts the runtime kernel and rows equal these exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from onnxtr_spark.kernels import split_merge
from onnxtr_spark.kernels.builder import PARAGRAPH_BREAK, resolve_blocks
from onnxtr_spark.kernels.rotated import estimate_page_angle, rotate_boxes, straight_fit
from onnxtr_spark.stages.page_path import OUT_COLS


def sort_boxes(boxes: np.ndarray) -> np.ndarray:
    """Return indices ordering straight boxes top-to-bottom, left-to-right.

    boxes: (N, 4) relative [xmin, ymin, xmax, ymax].
    Key: ``xmin + 2 * ymax / median(heights)`` (builder.py:63).
    """
    heights = boxes[:, 3] - boxes[:, 1]
    return (boxes[:, 0] + 2 * boxes[:, 3] / np.median(heights)).argsort()


def resolve_sub_lines(
    boxes: np.ndarray, word_idcs: list[int], paragraph_break: float = PARAGRAPH_BREAK
) -> list[list[int]]:
    """Split one visual line into sub-lines at horizontal gaps >= paragraph_break.

    Mirrors builder.py:65-101 exactly, including the sort by xmin within
    the line and the "distance measured from previous box's xmax" rule.
    """
    lines: list[list[int]] = []
    word_idcs = [word_idcs[idx] for idx in boxes[word_idcs, 0].argsort().tolist()]

    if len(word_idcs) < 2:
        lines.append(word_idcs)
        return lines

    sub_line = [word_idcs[0]]
    for i in word_idcs[1:]:
        prev_box = boxes[sub_line[-1]]
        dist = boxes[i, 0] - prev_box[2]
        if dist >= paragraph_break:
            lines.append(sub_line)
            sub_line = []
        sub_line.append(i)
    lines.append(sub_line)
    return lines


def resolve_lines(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """Group straight boxes into reading-order lines (builder.py:103-146).

    Returns a nested list of original box indices, line by line.
    """
    idxs = sort_boxes(boxes)
    y_med = np.median(boxes[:, 3] - boxes[:, 1])
    y_centers = boxes[:, [1, 3]].mean(axis=1)

    lines: list[list[int]] = []
    words: list[int] = [idxs[0]]
    y_center_sum = y_centers[idxs[0]]

    for idx in idxs[1:]:
        y_dist = abs(y_centers[idx] - y_center_sum / len(words))
        if y_dist >= y_med / 2:
            lines.extend(resolve_sub_lines(boxes, words, paragraph_break))
            words = []
            y_center_sum = 0
        words.append(idx)
        y_center_sum += y_centers[idx]

    if words:
        lines.extend(resolve_sub_lines(boxes, words, paragraph_break))
    return lines


def resolve_lines_rotated(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """The rotated line scan with each word's y center recomputed."""
    straightened = rotate_boxes(boxes, -estimate_page_angle(boxes), (1024, 1024), min_angle=5.0)
    straight = np.concatenate((straightened.min(1), straightened.max(1)), -1)
    idxs = (straight[:, 0] + 2 * straight[:, 3] / np.median(straight[:, 3] - straight[:, 1])).argsort()
    y_med = np.median(straight[:, 3] - straight[:, 1])
    lines: list[list[int]] = []
    words: list[int] = [idxs[0]]
    y_center_sum = straight[idxs[0]][[1, 3]].mean()
    for idx in idxs[1:]:
        y_dist = abs(straight[idx][[1, 3]].mean() - y_center_sum / len(words))
        if y_dist >= y_med / 2:
            lines.extend(resolve_sub_lines(straight, words, paragraph_break))
            words = []
            y_center_sum = 0
        words.append(idx)
        y_center_sum += straight[idx][[1, 3]].mean()
    if words:
        lines.extend(resolve_sub_lines(straight, words, paragraph_break))
    return lines


def sort_boxes_rotated(boxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Rotated branch of the builder's sort (models/builder.py:55-63):
    straighten, fit straight boxes, return (order, straight_boxes)."""
    straight = straight_fit(boxes)
    return sort_boxes(straight), straight


def _flatten(lines: list[list[int]], n: int) -> tuple[np.ndarray, np.ndarray]:
    rank = np.empty(n, dtype=np.int64)
    line_id = np.empty(n, dtype=np.int64)
    pos = 0
    for li, line in enumerate(lines):
        for idx in line:
            rank[idx] = pos
            line_id[idx] = li
            pos += 1
    return rank, line_id


def word_order(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> tuple[np.ndarray, np.ndarray]:
    """Per-box (rank, line_id) of ``resolve_lines``."""
    return _flatten(resolve_lines(boxes, paragraph_break), boxes.shape[0])


def word_order_rotated(polys: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> tuple[np.ndarray, np.ndarray]:
    """Per-poly (rank, line_id) of ``resolve_lines_rotated``."""
    return _flatten(resolve_lines_rotated(polys, paragraph_break), polys.shape[0])


def word_order_blocks(
    boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK, block_t: float = 0.1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-box (rank, line_id, block_id): block -> line -> word order."""
    n = boxes.shape[0]
    rank = np.empty(n, dtype=np.int64)
    line_id = np.empty(n, dtype=np.int64)
    block_id = np.empty(n, dtype=np.int64)
    lines = resolve_lines(boxes, paragraph_break)
    pos = 0
    li_global = 0
    for bi, block in enumerate(resolve_blocks(boxes, lines, block_t)):
        for line in block:
            for idx in line:
                rank[idx] = pos
                line_id[idx] = li_global
                block_id[idx] = bi
                pos += 1
            li_global += 1
    return rank, line_id, block_id


def page_rows(path, pages: list[dict], flat: list[np.ndarray]) -> pd.DataFrame:
    """``PagePath.rows`` one page at a time: W2 merge and B1-B4 per page,
    then one ``OUT_COLS`` tuple per word."""
    cfg = path.reco_cfg
    preds = path.recognize(flat)
    out_rows: list[tuple] = []
    for page in pages:
        boxes = page["boxes"]
        if boxes.shape[0] == 0:
            continue
        page_preds = preds[page["start"] : page["start"] + page["n_splits"]]
        words = split_merge.remap_preds(page_preds, page["crop_map"], cfg.overlap_ratio)
        if page["polys"] is not None:
            rank, line_id = word_order_rotated(page["polys"])
            block_id = np.zeros_like(rank)
        elif cfg.resolve_blocks:
            rank, line_id, block_id = word_order_blocks(boxes[:, :4])
        else:
            rank, line_id = word_order(boxes[:, :4])
            block_id = np.zeros_like(rank)
        doc_id, offset, media_ref = page["key"]
        for wi, ((text, conf), box) in enumerate(zip(words, boxes)):
            out_rows.append((
                doc_id, offset, media_ref, wi, int(rank[wi]), int(line_id[wi]), int(block_id[wi]),
                float(box[0]), float(box[1]), float(box[2]), float(box[3]),
                float(box[4]), text, float(conf),
            ))
    return pd.DataFrame(out_rows, columns=OUT_COLS)
