"""Document-builder reading order (B1/B2) and block clustering (B4).

Re-derives the exact math of the reference's DocumentBuilder
(reference: onnxtr/models/builder.py:42-212) for every page of an Arrow
chunk at once. Per page, the reference:

- sorts boxes by ``xmin + 2*ymax / median(heights)`` (builder.py:42-63);
- scans them in that order, starting a new line when a box's y center
  deviates from the running line-mean y center by >= median_height / 2
  (builder.py:103-146);
- splits each line, sorted by xmin, where ``xmin - previous xmax >=
  paragraph_break`` (default 0.035, builder.py:65-101).

``reading_order`` does the same over a chunk of concatenated pages:

- Medians come from one sort of the padded (pages × boxes) heights,
  pads last: ``(lo + hi) / 2`` of the middle pair is the value
  ``np.median`` returns, and for an odd count lo is hi.
- The line scan is order-dependent (a running mean), so it runs in
  lockstep across pages: step j updates every page with more than j
  boxes, pages held longest first so the active ones are a prefix.
  Each page sees the scalar scan's float operations in the same order
  and dtype: the first line sums in the boxes' dtype and later lines
  in float64, because the scan restarts its sum from the int 0.
- The sub-line split is one ``np.lexsort`` over (line, xmin) in scan
  order; the gap test runs in float64, as a scalar comparison does.

Ties: ``np.argsort`` is not stable here (its SIMD sorts reorder equal
keys), and the reference sorts with it. A key vector with no tie has
only one sorted order, so one chunk-wide sort serves every page and
line without ties; a page whose sort key ties (or is NaN, as with a
zero median height) and a line whose xmin ties call ``argsort`` on
their own keys, which gives the scalar order exactly.

Rotated pages (builder.py:55-62) reach the kernel through
``rotated.straight_fit``; B4 (``resolve_blocks``) groups the kernel's
lines per page. The scalar per-page chain is the oracle in
``tests/builder_oracle.py``. ``word_order`` and ``word_order_blocks``
(and ``rotated.word_order_rotated``) are one-page calls of the kernel.
"""

from __future__ import annotations

import numpy as np

PARAGRAPH_BREAK = 0.035  # reference: models/builder.py:34


def _tied(keys: np.ndarray, same: np.ndarray) -> np.ndarray:
    """Positions i >= 1 of a sorted key vector equal to key i-1 within
    the same segment (``same[i-1]``), or NaN: where the sort is not unique."""
    tie = np.zeros(len(keys), dtype=bool)
    tie[1:] = (keys[1:] == keys[:-1]) & same
    return tie | np.isnan(keys)


def reading_order(
    boxes: np.ndarray, counts, paragraph_break: float = PARAGRAPH_BREAK
) -> tuple[np.ndarray, np.ndarray]:
    """(rank, line_id) of every box of a chunk of pages.

    boxes: (N, 4) relative [xmin, ymin, xmax, ymax], the pages' boxes
    concatenated in page order (one dtype: the pages of a chunk come
    from one detector); counts: boxes per page. ``rank[i]`` is box i's
    0-based reading-order position within its page and ``line_id[i]``
    its page's 0-based line index, as the reference's per-page builder
    gives them.
    """
    counts = np.asarray(counts, dtype=np.int64)
    n = boxes.shape[0]
    rank = np.empty(n, dtype=np.int64)
    line_id = np.empty(n, dtype=np.int64)
    if n == 0:
        return rank, line_id
    pc = counts[counts > 0]
    starts = np.cumsum(pc) - pc
    n_pages, width = len(pc), int(pc.max())
    pg = np.repeat(np.arange(n_pages), pc)
    pos = np.arange(n) - starts[pg]
    x0, y0, x1, y1 = boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3]

    # median height per page: padded rows sorted with +inf pads last
    heights = np.full((n_pages, width), np.inf, dtype=boxes.dtype)
    heights[pg, pos] = y1 - y0
    heights.sort(axis=1)
    rows = np.arange(n_pages)
    med = (heights[rows, (pc - 1) // 2] + heights[rows, pc // 2]) / 2
    med[np.isnan(heights[:, -1])] = np.nan  # np.median of a NaN height

    # B1 sort, chunk-wide; pages with a tied key sort on their own
    key = x0 + 2 * y1 / med[pg]
    order = np.lexsort((key, pg))
    for p in np.unique(pg[_tied(key[order], pg[1:] == pg[:-1])]):
        s = starts[p]
        order[s : s + pc[p]] = s + key[s : s + pc[p]].argsort()

    # B2 line scan in lockstep: (step, page) matrices, longest page first
    by_len = np.argsort(-pc, kind="stable")
    col = np.empty(n_pages, dtype=np.int64)
    col[by_len] = rows
    y_centers = boxes[:, [1, 3]].mean(axis=1)[order]
    scan = np.zeros((width, n_pages), dtype=boxes.dtype)
    scan[pos, col[pg]] = y_centers
    active = np.count_nonzero(pc[by_len][None, :] > np.arange(width)[:, None], axis=1)
    half_med = med[by_len].astype(np.float64) / 2
    first = np.ones(n_pages, dtype=bool)  # still in the page's first line
    sum_first = scan[0].copy()  # the first line's sum, in the boxes' dtype
    sum_rest = np.zeros(n_pages)  # later lines' sums, float64
    count = np.ones(n_pages)
    breaks = np.zeros((width, n_pages), dtype=bool)
    breaks[0] = True
    for j in range(1, width):
        k = active[j]
        y = scan[j, :k]
        y64 = y.astype(np.float64)
        mean = np.where(first[:k], sum_first[:k], sum_rest[:k]) / count[:k]
        brk = np.abs(y64 - mean) >= half_med[:k]
        breaks[j, :k] = brk
        first[:k] &= ~brk
        sum_first[:k] += y
        sum_rest[:k] = np.where(brk, y64, sum_rest[:k] + y64)
        count[:k] = np.where(brk, 1, count[:k] + 1)
    line = np.cumsum(breaks[pos, col[pg]])  # chunk-wide scan line, in scan order

    # sub-lines: xmin order within each scan line; tied lines sort alone
    xs = x0[order]
    within = np.lexsort((xs, line))
    same_line = line[1:] == line[:-1]
    for ln in np.unique(line[_tied(xs[within], same_line)]):
        s, e = np.searchsorted(line, (ln, ln + 1))
        within[s:e] = s + xs[s:e].argsort()
    final = order[within]
    gap = x0[final[1:]] - x1[final[:-1]]
    starts_line = np.ones(n, dtype=bool)
    starts_line[1:] = ~same_line | (gap.astype(np.float64) >= paragraph_break)
    lines = np.cumsum(starts_line)
    rank[final] = pos
    line_id[final] = lines - lines[starts][pg]
    return rank, line_id


def resolve_blocks(boxes: np.ndarray, lines: list[np.ndarray], t: float = 0.1) -> list[list[np.ndarray]]:
    """Group one page's lines into blocks (reference builder.py:148-212,
    straight path).

    The reference clusters 6 geometric features of each line's enclosing
    bbox with ``scipy.cluster.hierarchy.fclusterdata(t=0.1, depth=4,
    criterion='distance', metric='euclidean')`` — single-linkage flat
    clusters at distance threshold t, which are exactly the connected
    components of the graph with edges where pairwise euclidean distance
    <= t. Blocks keep the reference's ordering: first-occurrence order of
    each cluster, lines in original order within a block (the dict
    grouping at builder.py:201-207).
    """
    # enclosing bbox per line (resolve_enclosing_bbox, utils/geometry.py:167-…)
    bl = np.array(
        [
            [
                boxes[line, 0].min(),
                boxes[line, 1].min(),
                boxes[line, 2].max(),
                boxes[line, 3].max(),
            ]
            for line in lines
        ],
        dtype=np.float64,
    )
    # 6 features (builder.py:186-197, straight branch)
    feats = np.stack(
        (
            (bl[:, 0] + bl[:, 3]) / 2,
            (bl[:, 1] + bl[:, 2]) / 2,
            (bl[:, 0] + bl[:, 2]) / 2,
            (bl[:, 1] + bl[:, 3]) / 2,
            bl[:, 0],
            bl[:, 1],
        ),
        axis=-1,
    )
    n = feats.shape[0]
    d2 = ((feats[:, None, :] - feats[None, :, :]) ** 2).sum(-1)
    adj = d2 <= t * t

    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if adj[i, j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)

    groups: dict[int, list[int]] = {}
    for li in range(n):
        groups.setdefault(find(li), []).append(li)
    return [[lines[idx] for idx in group] for group in groups.values()]


def reading_order_blocks(
    boxes: np.ndarray, counts, paragraph_break: float = PARAGRAPH_BREAK, block_t: float = 0.1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``reading_order`` with B4 block clustering: per page, reading
    order is block -> line -> word (blocks reorder lines exactly as the
    reference's export does when resolve_blocks=True, builder.py:210).
    Returns (rank, line_id, block_id)."""
    rank, line_id = reading_order(boxes, counts, paragraph_break)
    block_id = np.empty_like(rank)
    start = 0
    for c in np.asarray(counts, dtype=np.int64).tolist():
        if c == 0:
            continue
        page = slice(start, start + c)
        by_rank = np.argsort(rank[page])
        lines = np.split(by_rank, np.flatnonzero(np.diff(line_id[page][by_rank])) + 1)
        blocks = resolve_blocks(boxes[page], lines, block_t)
        seq = [ln for block in blocks for ln in block]
        idx = start + np.concatenate(seq)
        rank[idx] = np.arange(c)
        line_id[idx] = np.repeat(np.arange(len(seq)), [len(ln) for ln in seq])
        block_id[idx] = np.repeat(np.arange(len(blocks)), [sum(len(ln) for ln in b) for b in blocks])
        start += c
    return rank, line_id, block_id


def word_order(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> tuple[np.ndarray, np.ndarray]:
    """``reading_order`` of one page: (rank, line_id) aligned with its boxes."""
    return reading_order(boxes, [boxes.shape[0]], paragraph_break)


def word_order_blocks(
    boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK, block_t: float = 0.1
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``reading_order_blocks`` of one page: (rank, line_id, block_id)."""
    return reading_order_blocks(boxes, [boxes.shape[0]], paragraph_break, block_t)
