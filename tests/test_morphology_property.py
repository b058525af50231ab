"""Property test: bit-packed 3x3 open == naive 9-shift formulation
(cv2 border semantics: erosion pads foreground, dilation background)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.detect_post_oracle import binary_open_3x3


def naive_open(bitmap: np.ndarray) -> np.ndarray:
    h, w = bitmap.shape
    b = bitmap.astype(bool)
    padded = np.pad(b, 1, mode="constant", constant_values=True)
    er = np.ones((h, w), dtype=bool)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            er &= padded[dy : dy + h, dx : dx + w]
    padded = np.pad(er, 1, mode="constant", constant_values=False)
    di = np.zeros((h, w), dtype=bool)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            di |= padded[dy : dy + h, dx : dx + w]
    return di.astype(np.uint8)


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(3, 40),
    w=st.integers(3, 40),
    seed=st.integers(0, 2**31 - 1),
    density=st.floats(0.05, 0.95),
)
def test_packed_open_matches_naive(h, w, seed, density):
    rng = np.random.RandomState(seed)
    bitmap = (rng.rand(h, w) < density).astype(np.uint8)
    np.testing.assert_array_equal(binary_open_3x3(bitmap), naive_open(bitmap))
