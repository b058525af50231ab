"""The block kernels of the Arrow-side exact-similarity queries equal
the dense reference bodies in ``tests/similarity_oracle.py`` bit for
bit, at any block size, and never hold more than SIM_BLOCK² sims."""

import math

import numpy as np
import pandas as pd
import pytest

from onnxtr_spark.functions import similarity as sim
from tests import similarity_oracle as oracle


def _norm_fold(v) -> float:
    """The JVM ``_norm``: sqrt of a left-to-right float64 fold."""
    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _vectors(rng, n: int, dim: int, coarse: bool) -> np.ndarray:
    """Random float32 vectors, no zero vector. Coarse ones take values
    in {-2..2}, so many pairs share a sim; a third of them repeat an
    earlier vector."""
    if coarse:
        V = rng.integers(-2, 3, size=(n, dim)).astype(np.float32)
        V[np.all(V == 0, axis=1), 0] = 1
        dup = rng.random(n) < 1 / 3
        V[dup] = V[rng.integers(0, n, size=n)][dup]
    else:
        V = rng.uniform(-1, 1, size=(n, dim)).astype(np.float32)
    return V


def _bits(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float64).view(np.uint64)


def _assert_cell_equal(pdf: pd.DataFrame) -> None:
    got = sim._cell_prior(pdf)
    want = oracle.cell_prior(pdf.assign(nm=[_norm_fold(v) for v in pdf["embedding"]]))
    assert list(got.columns) == ["vec_id", "mps"]
    np.testing.assert_array_equal(got["vec_id"].to_numpy(), want["vec_id"].to_numpy())
    np.testing.assert_array_equal(_bits(got["mps"]), _bits(want["mps"]))


def _assert_knn_equal(pdf, V, labels, k) -> None:
    L, ln = sim._matrix(list(V))
    got = sim._classify_batch(pdf, L, ln, labels, k)
    want = oracle.knn_batch(pdf, L.T, ln, labels, k)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@pytest.mark.parametrize("seed", range(8))
def test_cell_prior_matches_dense_oracle(monkeypatch, seed):
    rng = np.random.default_rng(seed)
    for case in range(25):
        monkeypatch.setattr(sim, "SIM_BLOCK", int(rng.integers(1, 9)))
        n = 1 if case == 0 else int(rng.integers(2, 40))
        V = _vectors(rng, n, int(rng.integers(1, 7)), coarse=case % 2 == 1)
        ids = rng.permutation(4 * n)[:n]  # unsorted, with gaps
        _assert_cell_equal(pd.DataFrame({"vec_id": ids, "embedding": list(V)}))


@pytest.mark.parametrize("seed", range(8))
def test_classify_batch_matches_per_row_oracle(monkeypatch, seed):
    rng = np.random.default_rng(100 + seed)
    for case in range(25):
        monkeypatch.setattr(sim, "SIM_BLOCK", int(rng.integers(1, 9)))
        dim = int(rng.integers(1, 7))
        coarse = case % 2 == 1
        n_lab = int(rng.integers(1, 8)) if case % 5 == 0 else int(rng.integers(1, 40))  # often < k
        V = _vectors(rng, n_lab, dim, coarse)
        m = int(rng.integers(1, 12))
        Q = _vectors(rng, m, dim, coarse)
        Q[: m // 3] = V[rng.integers(0, n_lab, size=m // 3)]  # queries equal to index vectors
        labels = rng.integers(0, 1 + case % 4, size=n_lab).astype(np.int64)
        pdf = pd.DataFrame({"vec_id": 5 * rng.permutation(m), "embedding": list(Q)})
        _assert_knn_equal(pdf, V, labels, int(rng.integers(1, 8)))


def test_ties_at_the_kth_position_break_by_id(monkeypatch):
    """Every index vector is one of two directions: the k-th rank falls
    inside a run of equal sims, and the vote ties between labels."""
    monkeypatch.setattr(sim, "SIM_BLOCK", 3)
    V = np.array([[1, 0], [0, 1]] * 6, dtype=np.float32)
    labels = np.array([3, 1, 2, 0] * 3, dtype=np.int64)
    Q = np.array([[1, 0], [0, 1], [1, 1]], dtype=np.float32)
    pdf = pd.DataFrame({"vec_id": [0, 5, 10], "embedding": list(Q)})
    for k in range(1, 8):
        _assert_knn_equal(pdf, V, labels, k)


def test_full_precision_exposes_the_fold_order(monkeypatch):
    """At ROUND = 3 a last-bit difference of a dot or norm almost never
    crosses a rounding boundary. At ROUND = 17 the rounding keeps about
    every bit, so the sims are equal only if both folds run the dims in
    the oracle's order."""
    for mod in (sim, oracle):
        monkeypatch.setattr(mod, "ROUND", 17)
    monkeypatch.setattr(sim, "SIM_BLOCK", 5)
    rng = np.random.default_rng(11)
    V = _vectors(rng, 23, 64, coarse=False)
    _, nm = sim._matrix(list(V))
    np.testing.assert_array_equal(_bits(nm), _bits([_norm_fold(v) for v in V]))
    _assert_cell_equal(pd.DataFrame({"vec_id": np.arange(23), "embedding": list(V)}))
    Q = _vectors(rng, 7, 64, coarse=False)
    pdf = pd.DataFrame({"vec_id": np.arange(7) * 5, "embedding": list(Q)})
    _assert_knn_equal(pdf, V, rng.integers(0, 3, size=23).astype(np.int64), 3)


def test_default_block_on_a_cell_larger_than_one_block():
    rng = np.random.default_rng(7)
    n = sim.SIM_BLOCK + 9
    V = _vectors(rng, n, 3, coarse=True)
    _assert_cell_equal(pd.DataFrame({"vec_id": np.arange(n), "embedding": list(V)}))


def test_no_call_holds_more_than_a_block_of_sims(monkeypatch):
    block = 4
    monkeypatch.setattr(sim, "SIM_BLOCK", block)
    shapes = []
    cosines = sim._cosines

    def recording(*args):
        out = cosines(*args)
        shapes.append(out.shape)
        return out

    monkeypatch.setattr(sim, "_cosines", recording)
    rng = np.random.default_rng(3)
    n = 3 * block + 5
    V = _vectors(rng, n, 5, coarse=True)
    _assert_cell_equal(pd.DataFrame({"vec_id": np.arange(n), "embedding": list(V)}))
    # column blocks 0..4 meet 1..5 row blocks of lower ids
    assert len(shapes) == 15
    labels = rng.integers(0, 3, size=n).astype(np.int64)
    pdf = pd.DataFrame({"vec_id": np.arange(n) * 5, "embedding": list(V)})
    _assert_knn_equal(pdf, V, labels, 5)
    assert len(shapes) == 15 + 25  # every (query block, index block)
    assert max(r * c for r, c in shapes) <= block * block
