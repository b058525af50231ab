"""Builder geometry kernels vs the reference's own test tables
(reference: tests/common/test_models_builder.py:90-133, straight cases)."""

import numpy as np
import pytest

from onnxtr_spark.kernels.builder import word_order
from tests.builder_oracle import resolve_lines, resolve_sub_lines, sort_boxes


@pytest.mark.parametrize(
    "input_boxes, sorted_idxs",
    [
        ([[0, 0.5, 0.1, 0.6], [0, 0.3, 0.2, 0.4], [0, 0, 0.1, 0.1]], [2, 1, 0]),  # vertical
        ([[0.7, 0.5, 0.85, 0.6], [0.2, 0.3, 0.4, 0.4], [0, 0, 0.1, 0.1]], [2, 1, 0]),  # diagonal
        ([[0, 0.5, 0.1, 0.6], [0.15, 0.5, 0.25, 0.6], [0.5, 0.5, 0.6, 0.6]], [0, 1, 2]),  # same line
        ([[0, 0.5, 0.1, 0.6], [0.2, 0.49, 0.35, 0.59], [0.8, 0.52, 0.9, 0.63]], [0, 1, 2]),  # ~same line
        ([[0, 0.3, 0.4, 0.45], [0.5, 0.28, 0.75, 0.42], [0, 0.45, 0.1, 0.55]], [0, 1, 2]),  # 2 lines
        ([[0, 0.3, 0.4, 0.35], [0.75, 0.28, 0.95, 0.42], [0, 0.45, 0.1, 0.55]], [0, 1, 2]),  # 2 lines
    ],
)
def test_sort_boxes(input_boxes, sorted_idxs):
    assert sort_boxes(np.asarray(input_boxes, dtype=float)).tolist() == sorted_idxs


@pytest.mark.parametrize(
    "input_boxes, lines",
    [
        ([[0, 0.5, 0.1, 0.6], [0, 0.3, 0.2, 0.4], [0, 0, 0.1, 0.1]], [[2], [1], [0]]),  # vertical
        ([[0.7, 0.5, 0.85, 0.6], [0.2, 0.3, 0.4, 0.4], [0, 0, 0.1, 0.1]], [[2], [1], [0]]),  # diagonal
        ([[0, 0.5, 0.14, 0.6], [0.15, 0.5, 0.25, 0.6], [0.5, 0.5, 0.6, 0.6]], [[0, 1], [2]]),  # same line, 2 paras
        ([[0, 0.5, 0.18, 0.6], [0.2, 0.48, 0.35, 0.58], [0.8, 0.52, 0.9, 0.63]], [[0, 1], [2]]),  # ~same line
        ([[0, 0.3, 0.48, 0.45], [0.5, 0.28, 0.75, 0.42], [0, 0.45, 0.1, 0.55]], [[0, 1], [2]]),  # 2 lines
        ([[0, 0.3, 0.4, 0.35], [0.75, 0.28, 0.95, 0.42], [0, 0.45, 0.1, 0.55]], [[0], [1], [2]]),  # 2 lines
    ],
)
def test_resolve_lines(input_boxes, lines):
    assert resolve_lines(np.asarray(input_boxes, dtype=float)) == lines


def test_resolve_sub_lines_gap_break():
    # Two words 0.01 apart stay together; a 0.05 gap splits the sub-line.
    boxes = np.asarray(
        [[0.0, 0.1, 0.1, 0.2], [0.11, 0.1, 0.2, 0.2], [0.25, 0.1, 0.3, 0.2]], dtype=float
    )
    assert resolve_sub_lines(boxes, [0, 1, 2]) == [[0, 1], [2]]


def test_word_order_flattening():
    boxes = np.asarray(
        [[0, 0.45, 0.1, 0.55], [0.5, 0.28, 0.75, 0.42], [0, 0.3, 0.48, 0.45]], dtype=float
    )
    # Reading order: box2 then box1 (first line), then box0.
    rank, line_id = word_order(boxes)
    assert rank.tolist() == [2, 1, 0]
    assert line_id[2] == line_id[1] == 0
    assert line_id[0] == 1
