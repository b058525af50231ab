"""Dense reference bodies of the Arrow-side exact-similarity queries.

``cell_prior`` is the per-cell ``semdedup`` body that built the whole
n x n cosine matrix of a k-means cell and took each column's max over
the lower ids one vector at a time; ``knn_batch`` is the per-batch
``knn_classify`` body that picked each query's top-k and vote in a
loop over rows. Both fold dims left to right in float64 and round with
floor(x * 10^ROUND + 0.5) / 10^ROUND, like the JVM ``_dot`` and the
DuckDB oracle. Tests compare the block kernels in ``similarity`` to
them bit for bit.
"""

import numpy as np
import pandas as pd

from onnxtr_spark.functions.similarity import ROUND


def cell_prior(pdf: pd.DataFrame) -> pd.DataFrame:
    """One cell (vec_id, embedding, nm) -> (vec_id, mps) for every
    vector but the cell's id-minimum."""
    round_m = float(10**ROUND)
    pdf = pdf.sort_values("vec_id", kind="mergesort")
    n = len(pdf)
    if n < 2:
        return pd.DataFrame({"vec_id": np.empty(0, dtype=np.int64), "mps": np.empty(0)})
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    nm = pdf["nm"].to_numpy().astype(np.float64)
    d_ = M.shape[1]
    sims = np.zeros((n, n))
    for d in range(d_):
        sims += M[:, d : d + 1] * M[:, d][None, :]
    sims = sims / (nm[:, None] * nm[None, :])
    sims = np.floor(sims * round_m + 0.5) / round_m + 0.0
    ids = pdf["vec_id"].to_numpy().astype(np.int64)
    mps = np.empty(n - 1)
    for j in range(1, n):
        mps[j - 1] = sims[:j, j].max()
    return pd.DataFrame({"vec_id": ids[1:], "mps": mps})


def knn_batch(pdf: pd.DataFrame, L: np.ndarray, ln: np.ndarray, labels: np.ndarray, kk: int) -> pd.DataFrame:
    """One batch of queries (vec_id, embedding) against the labeled
    index (rows in ascending vec_id, their norms and labels) ->
    (vec_id, pred_label, n_votes)."""
    round_m = float(10**ROUND)
    n_lab, d_ = L.shape
    U = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    qn_sq = np.zeros(len(U))
    for d in range(d_):
        qn_sq = qn_sq + U[:, d] * U[:, d]
    qn = np.sqrt(qn_sq)
    sims = np.empty((len(U), n_lab))
    for s in range(0, n_lab, 4096):
        e = min(s + 4096, n_lab)
        acc = np.zeros((len(U), e - s))
        for d in range(d_):
            acc += U[:, d : d + 1] * L[s:e, d][None, :]
        sims[:, s:e] = acc
    sims = sims / (qn[:, None] * ln[None, :])
    sims = np.floor(sims * round_m + 0.5) / round_m + 0.0
    out_ids = np.empty(len(U), dtype=np.int64)
    out_lab = np.empty(len(U), dtype=np.int64)
    out_votes = np.empty(len(U), dtype=np.int64)
    qids = pdf["vec_id"].to_numpy().astype(np.int64)
    for i in range(len(U)):
        row = sims[i]
        if n_lab <= kk:
            top_idx = np.arange(n_lab)
        else:
            kth = np.partition(row, n_lab - kk)[n_lab - kk]
            gt = np.flatnonzero(row > kth)  # ≤ k-1 of these
            eq = np.flatnonzero(row == kth)  # ascending vec_id order
            top_idx = np.concatenate([gt, eq[: kk - len(gt)]])
        top_labels = labels[top_idx]
        uniq, counts = np.unique(top_labels, return_counts=True)
        best = int(np.argmax(counts))  # first max → smallest label
        out_ids[i] = qids[i]
        out_lab[i] = uniq[best]
        out_votes[i] = counts[best]
    return pd.DataFrame({"vec_id": out_ids, "pred_label": out_lab, "n_votes": out_votes})
