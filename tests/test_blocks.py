"""B4 block clustering (reference builder.py:148-212): single-linkage
flat clusters at euclidean distance t over 6 line-bbox features."""

import numpy as np

from onnxtr_spark.kernels.builder import resolve_blocks, word_order_blocks
from tests.builder_oracle import resolve_lines


def test_two_separated_paragraphs_cluster_apart():
    # two tight stacks of lines far apart vertically
    boxes = np.array([
        [0.1, 0.10, 0.5, 0.14],
        [0.1, 0.15, 0.5, 0.19],
        [0.1, 0.70, 0.5, 0.74],
        [0.1, 0.75, 0.5, 0.79],
    ])
    lines = resolve_lines(boxes)
    blocks = resolve_blocks(boxes, lines)
    assert len(blocks) == 2
    flat = [sorted(idx for line in b for idx in line) for b in blocks]
    assert flat == [[0, 1], [2, 3]]


def test_chained_lines_merge_transitively():
    # single linkage: A close to B, B close to C => one block even if
    # A and C are farther than t apart
    boxes = np.array([
        [0.1, 0.10, 0.5, 0.14],
        [0.1, 0.15, 0.5, 0.19],
        [0.1, 0.20, 0.5, 0.24],
    ])
    lines = resolve_lines(boxes)
    blocks = resolve_blocks(boxes, lines)
    assert len(blocks) == 1


def test_word_order_blocks_reorders_by_block():
    rank, line_id, block_id = word_order_blocks(
        np.array([
            [0.1, 0.70, 0.5, 0.74],  # bottom para line
            [0.1, 0.10, 0.5, 0.14],  # top para line 1
            [0.1, 0.15, 0.5, 0.19],  # top para line 2
        ])
    )
    # reading order: top block first
    assert rank.tolist() == [2, 0, 1]
    assert block_id.tolist() == [1, 0, 0]
